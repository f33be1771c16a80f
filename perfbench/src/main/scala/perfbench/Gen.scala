package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.immutable.BitSet

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Seeded input generators. The same seed always yields the same
  * files; the engine only ever sees what these write. */
object Gen {

  /** One independent random stream per (seed, purpose). */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt + 0x632BE59BD9B4E019L))

  /** Rank sampler with Zipf(s) weights over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      (if (i >= 0) i else -i - 1).min(n - 1)
    }
  }

  // ------------------------------------------------------------ movies

  /** Column order of the movie CSV: the 14 columns the pipeline keeps
    * plus two it drops, the shape of `graft.E2EBench.generate`. */
  val movieHeader: Seq[String] = Seq(
    "id", "title", "revenue", "budget", "overview", "poster_path",
    "production_companies", "release_year", "Director", "Star1", "Star2",
    "Star3", "genres_list", "all_combined_keywords", "extra_col_a",
    "extra_col_b")

  /** What the pipeline must produce from a generated movie CSV: the
    * ids that survive cleaning. */
  final case class MovieTruth(rows: Int, lines: Int, survivors: BitSet) {
    def cleanedRows: Long = survivors.size.toLong
  }

  private def csvField(v: String): String =
    if (v == null) ""
    else if (v.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  /** Write `rows` distinct movies as ONE multi-line CSV file at `path`
    * (about 1% of them written twice, as exact duplicate lines).
    * Survival through the cleaning stage is decided here, so the
    * expected cleaned row count is known without running the engine:
    * a movie survives unless its poster_path (~44%) or release_year
    * (~1%) is null, or its keyword list is "[]" (~3%). Overviews draw
    * from a Zipf vocabulary; some titles carry quoted commas and some
    * overviews an embedded newline, which the reference's multiLine
    * CSV options must handle. */
  def movies(seed: Long, rows: Int, path: File): MovieTruth = {
    val r = rng(seed, 1)
    val vocab = new Zipf(rows.max(1000) / 2, 1.05)
    val names = new Zipf(600, 0.8)
    def word(prefix: String, z: Zipf) = s"$prefix${z.sample(r)}"
    def person() = s"First${names.sample(r)} Last${names.sample(r)}"
    def list(words: Seq[String]) = words.map(w => s"'$w'").mkString("[", ", ", "]")
    path.getParentFile.mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    val survivors = BitSet.newBuilder
    var lines = 0
    try {
      out.write(movieHeader.mkString(",")); out.write('\n')
      for (id <- 0 until rows) {
        val title =
          if (r.nextInt(10) == 0) s"""Movie $id, the "sequel""""
          else s"Movie $id"
        val words = Seq.fill(8 + r.nextInt(9))(word("w", vocab))
        val overview =
          if (r.nextInt(20) == 0) words.take(4).mkString(" ") + "\n" + words.drop(4).mkString(" ")
          else words.mkString(" ")
        val poster = if (r.nextInt(100) < 44) null else s"/poster/$id.jpg"
        val year = if (r.nextInt(100) == 0) null else s"${1950 + r.nextInt(75)}.0"
        val keywords =
          if (r.nextInt(100) < 3) "[]"
          else list(Seq.fill(2 + r.nextInt(4))(word("kw", vocab)))
        val fields = Seq(
          id.toString, title,
          (r.nextLong() & 0x3FFFFFFFL).toString,
          r.nextInt(200000000).toString,
          overview, poster,
          if (r.nextInt(50) == 0) null else s"Studio${names.sample(r)}",
          year, person(),
          if (r.nextInt(40) == 0) null else person(),
          person(), person(),
          list(Seq.fill(1 + r.nextInt(3))(s"Genre${r.nextInt(20)}")),
          keywords, "x", "y")
        val line = fields.map(csvField).mkString(",") + "\n"
        out.write(line); lines += 1
        if (r.nextInt(100) == 0) { out.write(line); lines += 1 }
        if (poster != null && year != null && keywords != "[]") survivors += id
      }
    } finally out.close()
    MovieTruth(rows, lines, survivors.result())
  }

  /** Movie request ids: Zipf-skewed over the stored ids (popular
    * titles are asked for more often), about 10% of them ids the
    * catalogue does not hold. */
  def movieRequests(seed: Long, stored: Array[Long], n: Int): Array[Long] = {
    val r = rng(seed, 2)
    val popular = new Zipf(stored.length, 0.9)
    // a seeded permutation decides which ids are the popular ones
    val perm = stored.clone()
    for (i <- perm.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val absentFrom = stored.max + 1
    Array.fill(n) {
      if (r.nextInt(10) == 0) absentFrom + r.nextInt(stored.length)
      else perm(popular.sample(r))
    }
  }

  // -------------------------------------------------------- embeddings

  val dim = 64
  private val topics = 32
  private val subtopics = 256

  /** `n` embeddings with ids from `firstId`, drawn around 256 seeded
    * sub-topic centres nested in 32 topics, so every point has a few
    * close neighbours and a clear nearest set. `batch` picks an
    * independent stream, so appended batches differ from the base
    * corpus but share its centres. The label is the topic. */
  def embeddings(seed: Long, firstId: Long, n: Int, batch: Int): Array[(Long, Array[Float], Int)] = {
    val rc = rng(seed, 3)
    val topic = Array.fill(topics, dim)(rc.nextDouble() * 0.6 - 0.3)
    val sub = Array.tabulate(subtopics)(s => topic(s % topics).map(x => x + gauss(rc) * 0.05))
    val r = rng(seed, 1000L + batch)
    Array.tabulate(n) { i =>
      val s = r.nextInt(subtopics)
      val v = sub(s).map(x => (x + gauss(r) * 0.01).toFloat)
      (firstId + i, v, s % topics)
    }
  }

  /** Probe vectors: perturbed copies of seeded corpus points. */
  def probes(seed: Long, salt: Long, corpus: Array[(Long, Array[Float], Int)],
      n: Int): Array[Array[Float]] = {
    val r = rng(seed, 5000L + salt)
    Array.fill(n) {
      val base = corpus(r.nextInt(corpus.length))._2
      base.map(x => (x + gauss(r) * 0.005).toFloat)
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = r.nextDouble().max(1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def embeddingFrame(spark: SparkSession, rows: Array[(Long, Array[Float], Int)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows.toSeq.map { case (id, v, l) => (id, v.toSeq, l) })
      .toDF("vec_id", "embedding", "label")
  }

  def writeEmbeddings(spark: SparkSession, rows: Array[(Long, Array[Float], Int)],
      dir: String, mode: SaveMode): Unit =
    embeddingFrame(spark, rows).coalesce(1).write.mode(mode).parquet(dir)
}
