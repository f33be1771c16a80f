package perfbench

import java.io.File

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{MovieClean, MovieFeatures, MoviePipeline}
import graft.ml.{Recommender, Vectorize}
import graft.text.TextPrep

/** The reference's own job, one pass per unit op, in the shape
  * `graft.E2EBench` times it: read the movie CSV with the reference's
  * multiLine + inferSchema options, `MoviePipeline.run`, materialise,
  * `MoviePipeline.save` the staged outputs; then
  * [[MovieEtl.RecsPerPass]] recommendation requests (E2EBench's three),
  * served from the staged vectors and model as a serving process loads
  * them, for Zipf-skewed ids, ~10% of them absent. Each set-up
  * generates the CSV and builds the stages once. */
final class MovieEtl(protected val ctx: Ctx, rows: Int) extends Workload {
  import MovieEtl._

  private val spark = ctx.spark
  import spark.implicits._

  val queryKind = "movie_rec"
  val ingestKind = "etl"

  private var csv: String = _
  private var truth: Gen.MovieTruth = _
  private var requests: Array[Long] = _
  private var nextRequest = 0
  private var recall = Double.NaN
  private var opsDone = 0
  // (request id, recommendations) of the first RecallOps ops
  private val sampled = collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]

  private def stages = ctx.dir("stages")
  // traced passes run the pipeline call by call; they write apart, and
  // the final check compares their output with the untraced passes'
  private def tracedStages = ctx.dir("stages-traced")

  def setup(round: Int): Unit = {
    val d = new File(ctx.work, s"setup$round")
    truth = Gen.movies(ctx.seed, rows, new File(d, "csv/movies.csv"))
    csv = new File(d, "csv").getPath
    requests = Gen.movieRequests(ctx.seed, truth.survivors.toArray.map(_.toLong), 1 << 14)
    nextRequest = 0
    runPass(spark, csv, stages)
    ctx.sweep()
  }

  private def nextIds(): Seq[Long] =
    Seq.fill(RecsPerPass) { nextRequest += 1; requests((nextRequest - 1) % requests.length) }

  def op(): Seq[String] = {
    opsDone += 1
    pass(keep = opsDone <= RecallOps)
  }

  /** A pass whose requests are not kept for the recall check. */
  override def warmup(): Seq[String] = pass(keep = false)

  private def pass(keep: Boolean): Seq[String] = {
    val traced = ctx.tracer.active
    val out = if (traced) tracedStages else stages
    val cleaned = timedMs(ingestKind) {
      if (traced) runTracedPass(spark, ctx.tracer, csv, out)
      else runPass(spark, csv, out)
    }
    ctx.sweep()
    (if (cleaned == truth.cleanedRows) Nil
     else Seq(s"pipeline kept $cleaned rows, generator predicts ${truth.cleanedRows}")) ++
      serve(out, nextIds(), keep)
  }

  /** Recommendations served from the staged outputs in `out`. A stored
    * id gets 1 to 5 other stored ids; an absent id gets none. */
  private def serve(out: String, ids: Seq[Long], keep: Boolean): Seq[String] = {
    val stored = truth.survivors
    val model = Recommender.load(s"$out/stage2/lsh_model")
    val vectors = spark.read.parquet(s"$out/stage4/vector")
    def isStored(id: Long) = id < Int.MaxValue && stored(id.toInt)
    ids.flatMap { id =>
      val recs = timedMs(queryKind) {
        ctx.tracer.span("ml.recommend", (r: Seq[Long]) => r.length.toLong) {
          Recommender.recommend(model, vectors, "id", id, topK = 5)
        }
      }
      if (keep && isStored(id)) sampled += id -> recs
      val ok =
        if (isStored(id)) recs.nonEmpty && recs.length <= 5 && !recs.contains(id) && recs.forall(isStored)
        else recs.isEmpty
      if (ok) None else Some(s"movie_rec($id) returned $recs")
    }
  }

  /** The last pass's staged outputs (each pass overwrites them). */
  def finalChecks(): Seq[(String, Boolean)] = {
    val model = Recommender.load(s"$stages/stage2/lsh_model")
    val vectors = spark.read.parquet(s"$stages/stage4/vector")
    recall = recallAt5(vectors)
    val staged = Seq(stages, tracedStages).filter(new File(_).exists())
    staged.flatMap(out => stageCounts(spark, out).map { case (t, n) =>
      s"$out/$t has $n rows, generator predicts ${truth.cleanedRows}" -> (n == truth.cleanedRows)
    }) ++ Seq(
      "stage2 LSH model has 14 hash tables" -> (model.getNumHashTables == 14),
      f"movie_rec_recall_at_5 $recall%.3f >= $MinRecall" -> (recall >= MinRecall)) ++
      (if (!new File(tracedStages).exists()) Nil
       else Seq("traced passes stage the same vectors as MoviePipeline.run" ->
         (vectorSignature(spark.read.parquet(s"$tracedStages/stage4/vector")) ==
           vectorSignature(vectors))))
  }

  /** The recommendations served for stored ids in the first
    * [[MovieEtl.RecallOps]] ops (a fixed, seeded request sample) against
    * the exact top-5 by Euclidean distance between the L2-normalised
    * TF-IDF vectors, which is the cosine order. Ties at the 5th
    * distance count as hits. */
  private def recallAt5(vectors: DataFrame): Double = {
    val all = vectors.select($"id".cast("long"), $"norm_features").as[(Long, Vector)].collect()
    val byId = all.toMap
    sampled.map { case (id, recs) =>
      val v = byId(id)
      val d = all.iterator.filter(_._1 != id).map { case (j, w) => (j, Vectors.sqdist(v, w)) }.toMap
      val kth = d.values.toArray.sorted.apply(4)
      recs.count(j => d.get(j).exists(_ <= kth + 1e-12)) / 5.0
    }.sum / sampled.length.max(1)
  }

  def figures(): Seq[(String, Figure)] =
    Seq(p90Figure(queryKind), "movie_rec_recall_at_5" -> Figure(Some(recall), "ratio", sampled.length))
}

object MovieEtl {
  val RecsPerPass = 3
  val RecallOps = 3
  // well under what the seeded LSH scores on every seed tried
  val MinRecall = 0.8

  /** readCsv → `MoviePipeline.run` → materialise → save, as
    * `graft.E2EBench` times it. Returns the cleaned row count. */
  def runPass(spark: SparkSession, csv: String, out: String): Long = {
    val r = MoviePipeline.run(spark, MoviePipeline.readCsv(spark, csv))
    val n = r.movies.cache().count()
    MoviePipeline.save(r, out)
    n
  }

  /** [[runPass]] call by call, each call inside its span. Each frame is
    * cached and counted inside its span, so a span's lazy work happens
    * there rather than in whichever later span first needs it. Returns
    * the cleaned row count. */
  def runTracedPass(spark: SparkSession, tr: Tracer, csv: String, out: String): Long = {
    def mat(df: DataFrame): DataFrame = { df.cache(); df.count(); df }
    val raw = tr.span("etl.read_csv")(mat(MoviePipeline.readCsv(spark, csv)))
    val cleaned = tr.span("etl.clean")(mat(MovieClean.clean(raw)))
    val featured = tr.span("etl.featurize")(mat(MovieFeatures.featurize(cleaned)))
    val prepped = tr.span("text.prepare")(mat(TextPrep.prepare(spark, featured)))
    val vectorized = tr.span("ml.vectorize")(mat(Vectorize(prepped)._2))
    val model = tr.span("ml.lsh_fit")(Recommender.fit(vectorized))
    val n = vectorized.cache().count()
    tr.span("etl.save")(MoviePipeline.save(MoviePipeline.Result(vectorized, model), out))
    n
  }

  /** Per id, the sorted non-zero TF-IDF weights (to 1e-9): equal for
    * two stagings of the same pipeline whatever order the vocabulary
    * fit gave equally frequent terms. */
  def vectorSignature(vectors: DataFrame): Map[Long, Seq[Long]] = {
    import vectors.sparkSession.implicits._
    vectors.select($"id".cast("long"), $"norm_features").as[(Long, Vector)].collect()
      .map { case (id, v) =>
        id -> v.toSparse.values.map(x => math.round(x * 1e9)).sorted.toSeq
      }.toMap
  }

  /** Row counts of the three staged tables, each of which should hold
    * exactly the rows the generator says survive cleaning. */
  def stageCounts(spark: SparkSession, out: String): Seq[(String, Long)] =
    Seq("stage1/movie_metadata", "stage3/master_table", "stage4/vector")
      .map(t => t -> spark.read.parquet(s"$out/$t").count())
}
