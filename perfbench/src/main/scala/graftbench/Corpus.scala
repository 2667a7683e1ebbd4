package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded word-count corpus and the checker for the job's output contract
  * (FIXTURES.md A.4): exactly R files, each key in exactly one file, every
  * file sorted by key, counts equal to the expected ones.
  */
object Corpus {
  final case class Generated(files: Seq[String], expected: Map[String, Long], bytes: Long)

  private val Separators = Array(" ", " ", " ", " ", ", ", ". ", " \"", "\" ", " '", "' ")

  /** Zipf(1.0) text over a 20 000-word vocabulary, `nFiles` files of about
    * `totalBytes / nFiles` bytes each. The expected counts are tallied with
    * plain collections while the words are drawn.
    */
  def generate(dir: Path, seed: Long, totalBytes: Long, nFiles: Int): Generated = {
    Files.createDirectories(dir)
    val rng = new java.util.SplittableRandom(seed)
    // Word length is fixed by rank (3 to 10 letters) and only the letters
    // come from the seed, so every seed yields the same tokens per byte.
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 20000) {
        val len = 3 + (seen.size * 7919) % 8
        var w = ""
        while (w.isEmpty || seen.contains(w)) w = new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
        seen += w
      }
      seen.toArray
    }
    val cdf = vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    val counts = mutable.HashMap.empty[String, Long]
    val files = (0 until nFiles).map { i =>
      val p = dir.resolve(s"input_$i.txt")
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(p.toFile), StandardCharsets.UTF_8), 1 << 16)
      var written = 0L
      val sb = new java.lang.StringBuilder
      try while (written < totalBytes / nFiles) {
        sb.setLength(0)
        val n = 4 + rng.nextInt(16)
        var k = 0
        while (k < n) {
          if (k > 0 || rng.nextInt(8) == 0) sb.append(Separators(rng.nextInt(Separators.length)))
          val idx = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * total)
          val word = vocab(math.min(if (idx >= 0) idx else -idx - 1, vocab.length - 1))
          sb.append(word)
          counts(word) = counts.getOrElse(word, 0L) + 1
          k += 1
        }
        sb.append('\n')
        w.write(sb.toString)
        written += sb.length
      } finally w.close()
      p.toString
    }
    Generated(files, counts.toMap, files.map(f => Files.size(java.nio.file.Paths.get(f))).sum)
  }

  /** None when the output honours the contract, else the first violation. */
  def verify(outDir: Path, r: Int, expected: Map[String, Long]): Option[String] = {
    val names = Files.list(outDir).iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    val want = (0 until r).map(i => s"output_$i").sorted
    if (names != want) return Some(s"output files ${names.mkString(",")} != $r files output_0..output_${r - 1}")
    val seen = mutable.HashMap.empty[String, Long]
    for (i <- 0 until r) {
      var prev: String = null
      val it = Files.lines(outDir.resolve(s"output_$i"), StandardCharsets.UTF_8).iterator.asScala
      for (line <- it) {
        val at = line.lastIndexOf(", ")
        if (at < 0) return Some(s"output_$i: malformed line '$line'")
        val key = line.substring(0, at)
        if (prev != null && prev.compareTo(key) >= 0) return Some(s"output_$i: '$key' after '$prev'")
        if (seen.contains(key)) return Some(s"key '$key' in more than one file")
        seen(key) = line.substring(at + 2).toLong
        prev = key
      }
    }
    if (seen.size != expected.size) return Some(s"${seen.size} keys, expected ${expected.size}")
    expected.collectFirst { case (k, n) if !seen.get(k).contains(n) => s"count of '$k' is ${seen.get(k)}, expected $n" }
  }
}
