package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.zip.Deflater

/** One generated document. `name` is its file name (markdown, pdf) or
  * its `Items.Id` (database); `docId` is the id the engine gives it.
  */
final case class Doc(reader: String, name: String, title: String,
    paras: Vector[String]) {
  def docId: String = if (reader == "database") s"Article #$name" else name
}

/** Seeded input generator. Paragraphs are built from the sentences of
  * the engine's bundled markdown fixture plus one coined tag word, so
  * every paragraph (and so every chunk) is distinct while the
  * vocabulary stays the fixture's. The same seed gives the same inputs.
  */
final class Inputs(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private val sentences = Inputs.fixtureSentences
  val vocabulary: Vector[String] = sentences
    .flatMap(_.toLowerCase.split("[^a-z]+")).filter(_.length > 3).distinct
  private var tags = 0

  def int(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = rnd.nextDouble() < p
  def pick[T](xs: scala.collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private val onsets = Vector("b", "d", "f", "g", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "z", "br", "dr", "kl", "st", "tr")
  private val nuclei = Vector("a", "e", "i", "o", "u", "ai", "ou")

  /** A pronounceable non-word; the counter suffix makes it unique. */
  def tagWord(): String = {
    tags += 1
    (1 to 3).map(_ => pick(onsets) + pick(nuclei)).mkString + "x" +
      Integer.toString(tags, 36)
  }

  /** A word no document contains: tags never carry "q". */
  def oovWord(): String =
    (1 to 3).map(_ => pick(onsets) + pick(nuclei)).mkString + "q" +
      Integer.toString(rnd.nextInt(1 << 20), 36)

  def paragraph(): String =
    (1 to int(1, 3)).map(_ => pick(sentences)).mkString(" ") +
      s" Catalogue tag ${tagWord()}."

  /** 1 to 8 paragraphs, so the chunk count per document varies. */
  def doc(reader: String, name: String): Doc =
    Doc(reader, name, s"Notes ${tagWord()}",
      Vector.fill(int(1, 8))(paragraph()))

  /** A REPL query: 3 to 10 words, mostly fixture vocabulary plus the tag
    * of a document the query is "about", or wholly out of vocabulary.
    */
  def query(docs: IndexedSeq[Doc], oov: Boolean): String = {
    val n = int(3, 10)
    if (oov) Seq.fill(n)(oovWord()).mkString(" ")
    else {
      val d = pick(docs)
      val tag = pick(d.paras).split(" ").last.stripSuffix(".")
      (tag +: Seq.fill(n - 1)(pick(vocabulary))).mkString(" ")
    }
  }

  /** A seeded stream of `n` queries: about a fifth repeat an earlier
    * query, `oovShare` of the rest share no word with the corpus.
    */
  def queryStream(docs: IndexedSeq[Doc], n: Int,
      repeatShare: Double = 0.2, oovShare: Double = 0.05): Vector[String] = {
    val out = Vector.newBuilder[String]
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      val q = if (i > 0 && chance(repeatShare)) pick(seen)
        else query(docs, chance(oovShare))
      seen += q; out += q
    }
    out.result()
  }
}

object Inputs {
  /** The bundled fixture's sentences, folded to ASCII (the PDF writer
    * emits single-byte strings; one fixture file is cp1252).
    */
  lazy val fixtureSentences: Vector[String] = {
    val names = Seq("ancient_egypt", "black_holes", "coral_reefs",
      "human_brain", "machine_learning", "photosynthesis",
      "plate_tectonics", "renewable_energy", "roman_empire", "solar_system")
    names.flatMap { n =>
      val in = getClass.getResourceAsStream(s"/content/markdown/$n.md")
      require(in != null, s"fixture $n.md is not on the classpath")
      val raw = try in.readAllBytes() finally in.close()
      val text = raw.flatMap { b =>
        (b & 0xff) match {
          case c if c < 0x80 => Seq(c.toChar)
          case 0x91 | 0x92 => Seq('\'')
          case 0x93 | 0x94 => Seq('"')
          case 0x96 | 0x97 => Seq('-')
          case _ => Seq.empty
        }
      }.mkString
      text.split("\n").map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap(_.split("(?<=[.!?])\\s+")).map(_.trim)
        .filter(_.split(" ").length >= 4)
    }.toVector
  }

  def markdown(d: Doc): String = {
    val sb = new StringBuilder(s"# ${d.title}\n\n")
    d.paras.zipWithIndex.foreach { case (p, i) =>
      if (i > 0 && i % 3 == 0) sb ++= s"## Part ${i / 3 + 1}\n\n"
      sb ++= p ++= "\n\n"
    }
    sb.toString
  }

  def writeMarkdown(dir: Path, d: Doc): Unit =
    Files.write(dir.resolve(d.name), markdown(d).getBytes(UTF_8))

  /** A multi-page text PDF: two paragraphs per page, lines on a 20pt
    * pitch, a wide gap between paragraphs, each content stream
    * FlateDecode-compressed.
    */
  def writePdf(dir: Path, d: Doc): Unit = {
    def esc(s: String) =
      s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    def lines(p: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer(new StringBuilder)
      p.split(" ").foreach { w =>
        if (out.last.nonEmpty && out.last.length + w.length > 70)
          out += new StringBuilder
        if (out.last.nonEmpty) out.last += ' '
        out.last ++= w
      }
      out.map(_.toString).toSeq
    }
    val pages = d.paras.grouped(2).toVector.zipWithIndex.map {
      case (ps, pi) =>
        val sb = new StringBuilder
        var y = 80
        val blocks = (if (pi == 0) Seq(d.title) else Seq.empty) ++ ps
        blocks.foreach { b =>
          lines(b).foreach { l =>
            sb ++= s"BT 1 0 0 1 72 $y Tm (${esc(l)}) Tj ET\n"; y += 20
          }
          y += 50
        }
        deflate(sb.toString.getBytes(ISO_8859_1))
    }
    val out = new ByteArrayOutputStream
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    put(s"2 0 obj << /Type /Pages /Kids [$kids] /Count ${pages.size} >> " +
      "endobj\n")
    pages.zipWithIndex.foreach { case (z, i) =>
      val p = 3 + 2 * i
      put(s"$p 0 obj << /Type /Page /Parent 2 0 R /Contents ${p + 1} 0 R " +
        ">> endobj\n")
      put(s"${p + 1} 0 obj << /Length ${z.length} /Filter /FlateDecode >> " +
        "stream\n")
      out.write(z)
      put("\nendstream endobj\n")
    }
    put("%%EOF\n")
    Files.write(dir.resolve(d.name), out.toByteArray)
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** The `Items(Id, Title, Body)` table the database reader scans, one
    * row per document, body lines = paragraphs.
    */
  def writeSqlite(file: Path, docs: Seq[Doc]): Unit =
    SqliteWriter.write(file, docs.map(d =>
      (d.name.toLong, d.title, d.paras.mkString("\n"))))
}

/** Writes a single-table SQLite 3 database file: page 1 holds the
  * schema, page 2 the table b-tree root (a leaf, or one interior page
  * over leaves), 64 KiB pages, no overflow pages — rows must fit in a
  * page, which generated rows do by a wide margin.
  */
object SqliteWriter {
  private val PageSize = 65536

  private def varint(v: Long): Array[Byte] = {
    require(v >= 0 && v < (1L << 56), s"varint out of range: $v")
    var groups = List((v & 0x7f).toByte)
    var x = v >>> 7
    while (x != 0) { groups = ((x & 0x7f) | 0x80).toByte :: groups; x >>>= 7 }
    groups.toArray
  }

  /** Record encoding: header (its own length, serial types) then body. */
  private def record(values: Seq[Any]): Array[Byte] = {
    val parts = values.map {
      case null => (0L, Array.emptyByteArray)
      case i: Int =>
        require(i >= 0 && i < 128); (1L, Array(i.toByte))
      case s: String =>
        val b = s.getBytes(UTF_8); (13L + 2L * b.length, b)
    }
    val types = parts.flatMap(p => varint(p._1)).toArray
    var hdrLen = types.length + 1
    if (varint(hdrLen.toLong).length > 1) hdrLen += 1
    varint(hdrLen.toLong) ++ types ++ parts.flatMap(_._2)
  }

  private def leafCell(rowid: Long, rec: Array[Byte]): Array[Byte] =
    varint(rec.length.toLong) ++ varint(rowid) ++ rec

  /** Lay out a b-tree page: header at `hdrOff`, cell pointers after it,
    * cells packed at the end of the page.
    */
  private def page(hdrOff: Int, pageType: Int, cells: Seq[Array[Byte]],
      rightMost: Int = 0): Array[Byte] = {
    val p = new Array[Byte](PageSize)
    val hdrLen = if (pageType == 0x05) 12 else 8
    var content = PageSize
    val ptrs = cells.map { c =>
      content -= c.length
      System.arraycopy(c, 0, p, content, c.length)
      content
    }
    require(hdrOff + hdrLen + 2 * cells.size <= content, "page overflow")
    p(hdrOff) = pageType.toByte
    p(hdrOff + 3) = (cells.size >> 8).toByte
    p(hdrOff + 4) = cells.size.toByte
    val cs = if (content == PageSize) 0 else content
    p(hdrOff + 5) = (cs >> 8).toByte
    p(hdrOff + 6) = cs.toByte
    if (pageType == 0x05) putInt(p, hdrOff + 8, rightMost)
    ptrs.zipWithIndex.foreach { case (ptr, i) =>
      p(hdrOff + hdrLen + 2 * i) = (ptr >> 8).toByte
      p(hdrOff + hdrLen + 2 * i + 1) = ptr.toByte
    }
    p
  }

  private def putInt(b: Array[Byte], off: Int, v: Int): Unit =
    (0 until 4).foreach(i => b(off + i) = (v >>> (24 - 8 * i)).toByte)

  def write(file: Path, rows: Seq[(Long, String, String)]): Unit = {
    val sorted = rows.sortBy(_._1)
    val cells = sorted.map { case (id, t, b) =>
      (id, leafCell(id, record(Seq(null, t, b))))
    }
    // Greedy leaf packing: 8-byte header, 2-byte pointer per cell.
    val leaves = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])])
    var used = 8
    cells.foreach { c =>
      val need = c._2.length + 2
      require(need + 8 <= PageSize, s"row ${c._1} does not fit in a page")
      if (used + need > PageSize) {
        leaves += scala.collection.mutable.ArrayBuffer.empty; used = 8
      }
      leaves.last += c; used += need
    }
    val tablePages: Seq[Array[Byte]] =
      if (leaves.size == 1) Seq(page(0, 0x0d, leaves.head.map(_._2).toSeq))
      else {
        val firstLeaf = 3
        val interiorCells = leaves.init.zipWithIndex.map { case (l, i) =>
          val c = new Array[Byte](4)
          putInt(c, 0, firstLeaf + i)
          c ++ varint(l.last._1)
        }
        page(0, 0x05, interiorCells.toSeq,
          rightMost = firstLeaf + leaves.size - 1) +:
          leaves.map(l => page(0, 0x0d, l.map(_._2).toSeq)).toSeq
      }
    val sql = "CREATE TABLE Items(Id INTEGER PRIMARY KEY, Title TEXT, " +
      "Body TEXT)"
    val master = page(100, 0x0d,
      Seq(leafCell(1, record(Seq("table", "Items", "Items", 2, sql)))))
    val nPages = 1 + tablePages.size
    val h = master
    System.arraycopy("SQLite format 3\u0000".getBytes(ISO_8859_1), 0, h, 0, 16)
    h(16) = 0; h(17) = 1 // page size 65536 is stored as 1
    h(18) = 1; h(19) = 1; h(20) = 0; h(21) = 64; h(22) = 32; h(23) = 32
    putInt(h, 24, 1) // file change counter
    putInt(h, 28, nPages)
    putInt(h, 40, 1) // schema cookie
    putInt(h, 44, 4) // schema format
    putInt(h, 56, 1) // UTF-8
    putInt(h, 92, 1) // version-valid-for = change counter
    putInt(h, 96, 3045000)
    val out = Files.newOutputStream(file)
    try (h +: tablePages).foreach(out.write) finally out.close()
  }
}
