package perfbench

import java.io.File
import java.security.MessageDigest
import java.util.SplittableRandom

/** Shared pieces of the seeded generators. Every generated value is a pure
  * function of (seed, row index, salt), so the same seed gives the same
  * rows whatever the partitioning, and the driver can recompute any row
  * to build a check's expected answer without reading the output.
  */
object Gen {

  /** SplitMix64 finalizer over the mixed inputs. */
  def mix(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + c * 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Non-negative draw in [0, n). */
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)

  def rng(seed: Long, a: Long, salt: Long): SplittableRandom =
    new SplittableRandom(mix(seed, a, salt))

  /** SHA-256 over every parquet data file under `dir`, in path order,
    * footer excluded: the column data pages are byte-identical for a seed,
    * but parquet-mr writes each column chunk's list of encodings in an
    * order that changes from one JVM process to the next. Spark names part
    * files `part-NNNNN-<uuid>...`; the uuid changes per write, so files are
    * keyed by their directory and part number only.
    */
  def checksum(dir: String): String = {
    val root = new File(dir)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(root).filter(_.getName.startsWith("part-"))
      .map { f =>
        val rel = root.toURI.relativize(f.getParentFile.toURI).getPath
        (rel + f.getName.take(10), f)
      }.sortBy(_._1)
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach { case (k, f) =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      // parquet tail: footer, 4-byte little-endian footer length, "PAR1"
      val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      md.update(k.getBytes("UTF-8"))
      md.update(bytes, 0, bytes.length - 8 - footer)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Bytes and file count under `dir` (every regular file). */
  def listing(dir: String): Map[String, Long] = {
    val root = new File(dir)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Nil
    walk(root).map(f => f.getPath -> f.length()).toMap
  }

  def copyDir(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    Main.deleteRecursively(dst.toFile)
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q): Unit
    }
  }
}

/** Synthetic web text. Words are syllable strings of four to eight
  * letters, so they never collide with the stopword lists graft's
  * language and quality rules count, and two unrelated documents share
  * no run of four tokens except by rare chance.
  */
object Text {
  private val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe",
    "da", "fi", "gu", "ho", "je", "ba", "zo", "qu", "xe", "wa", "yi", "mo", "ri",
    "sa", "te", "nu", "pi", "ge", "bo", "cu", "fe")
  val en: Array[String] = Array("the", "of", "and", "to", "in", "is", "a", "that", "with", "have")
  val es: Array[String] = Array("el", "la", "de", "y", "que", "en", "un", "una")
  val fr: Array[String] = Array("le", "la", "de", "et", "un", "une", "du", "des")

  def word(r: SplittableRandom): String = {
    val k = r.nextInt(20)
    val n = if (k < 2) 2 else if (k < 11) 3 else 4
    (0 until n).map(_ => syl(r.nextInt(syl.length))).mkString
  }

  /** One sentence of `n` tokens; `stops` interleaved at about 30%. */
  def line(r: SplittableRandom, n: Int, stops: Array[String],
           end: String = "."): String =
    (0 until n).map(_ => if (r.nextInt(10) < 3) stops(r.nextInt(stops.length)) else word(r))
      .mkString(" ") + end

  /** Line count at quantile `u` of a long-tailed (Pareto, shape 1.5)
    * distribution: 5 lines at the median, up to `maxLines` in the tail.
    */
  def tailLines(u: Double, maxLines: Int): Int =
    5 + (3.0 * (math.pow(1.0 - u, -1.0 / 1.5) - 1.0)).toInt.min(maxLines - 5)

  /** A clean English page of `nLines` sentences, each 11 to 18 tokens,
    * opening with two of Gopher's stopwords.
    */
  def enPage(r: SplittableRandom, nLines: Int): Seq[String] =
    (0 until nLines).map { i =>
      val l = line(r, 11 + r.nextInt(8), en)
      if (i == 0) s"the ${word(r)} of $l" else l
    }

  /** A near-copy: each word replaced with probability `p`, and half the
    * time one new line appended.
    */
  def nearCopy(r: SplittableRandom, lines: Seq[String], p: Double): Seq[String] = {
    val edited = lines.map(_.split(" ").map { t =>
      if (r.nextDouble() < p) { val w = word(r); if (t.endsWith(".")) w + "." else w } else t
    }.mkString(" "))
    if (r.nextBoolean()) edited :+ line(r, 12, en) else edited
  }
}
