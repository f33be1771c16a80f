package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.ops.Similarity

/** A warm ANN serving session over a stored residual index, in the
  * shape the engine's own stored-index queries and self-check give it.
  * Set-up generates the embeddings corpus, writes it as the raw vector
  * store and freezes the index in the q225/q230 layout (16 cells, 8
  * subspaces × 16 codes, one Lloyd round). Each unit op is one round of
  * `graft.SelfChecks.residualStreamEqualsAppend`: append the q226
  * increment (fresh vectors, a fifth of the corpus) as two
  * micro-batches, then serve the q226/q230 probe batch (one query per
  * 50 corpus vectors) through `serveResidualIndexRerank` with q230's
  * parameters. An ingest request is the whole increment: its latency is
  * the two index appends together (the first append after a batch is
  * the slower one, so single appends would give two populations). The
  * store grows round by round, so later reads run beside earlier
  * writes. */
final class AnnServe(protected val ctx: Ctx, corpusSize: Int) extends Workload {
  import AnnServe._

  private val spark = ctx.spark
  import spark.implicits._

  val queryKind = "ann_serve"
  val ingestKind = "ann_ingest"

  private val appendSize = corpusSize / 10
  private val batchSize = corpusSize / 50

  private var root: File = _
  private var corpus: Array[(Long, Array[Float], Int)] = _
  private var probeSeq = 0L
  private var appended = 0
  private var recall = Double.NaN
  private var appendedRows = Vector.empty[(Long, Array[Float], Int)]
  // the first measured batch: its queries, what it served, what was stored
  private var sample: Option[(Array[Array[Float]], Long, Array[(Long, Long, Long, Long)],
    Vector[(Long, Array[Float], Int)])] = None

  private def index = new File(root, "index").getPath
  private def raw = new File(root, "raw").getPath

  def setup(round: Int): Unit = {
    root = new File(ctx.work, s"setup$round")
    corpus = Gen.embeddings(ctx.seed, 0L, corpusSize, batch = 0)
    Gen.writeEmbeddings(spark, corpus, raw, SaveMode.Overwrite)
    Similarity.saveResidualIndex(spark.read.parquet(raw), index, nCents = 16, m = 8,
      nCodes = 16, rounds = 1)
    appended = 0
    appendedRows = Vector.empty
    probeSeq = 0L
    sample = None
  }

  def op(): Seq[String] = ingest() ++ serveBatch(keep = true)

  /** One round whose batch is not kept for the recall check. */
  override def warmup(): Seq[String] = ingest() ++ serveBatch(keep = false)

  private def queryFrame(qs: Array[Array[Float]]): DataFrame = {
    val first = probeSeq
    probeSeq += qs.length
    qs.zipWithIndex.map { case (v, i) => (first + i, v.toSeq) }.toSeq
      .toDF("query_id", "embedding")
  }

  /** (query_id, rank, vec_id, exact_d2) rows of a served batch. */
  private def serve(qs: Array[Array[Float]]): Array[(Long, Long, Long, Long)] =
    Similarity.serveResidualIndexRerank(spark, index, queryFrame(qs),
      spark.read.parquet(raw), k = 10, rerankC = 40, nProbe = 4)
      .as[(Long, Long, Long, Long)].collect()

  /** Probes are perturbed copies of seeded vectors of the store as it
    * stands, appended ones included. */
  private def serveBatch(keep: Boolean): Seq[String] = {
    val q = Gen.probes(ctx.seed, probeSeq, corpus ++ appendedRows, batchSize)
    val first = probeSeq
    val rows = timedMs(queryKind) {
      ctx.tracer.span("ops.ann_serve", (r: Array[(Long, Long, Long, Long)]) => r.length.toLong) {
        serve(q)
      }
    }
    if (keep && sample.isEmpty) sample = Some((q, first, rows, appendedRows))
    val ranked = rows.groupBy(_._1).values.forall { rs =>
      val byRank = rs.sortBy(_._2)
      byRank.map(_._2).toSeq == (1L to 10L) &&
        byRank.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1))
    }
    if (rows.length == batchSize * 10 && ranked) Nil
    else Seq(s"ann_serve returned ${rows.length} rows, not a ranked top-10 for each of $batchSize queries")
  }

  private def ingest(): Seq[String] = {
    record(ingestKind, append() + append())
    Nil
  }

  /** One micro-batch of fresh vectors; returns the index append's ms. */
  private def append(): Double = {
    appended += 1
    val inc = Gen.embeddings(ctx.seed, corpusSize.toLong + (appended - 1).toLong * appendSize,
      appendSize, batch = appended)
    val t0 = System.nanoTime()
    ctx.tracer.span("ops.ann_append") {
      Similarity.appendResidualIndex(spark, Gen.embeddingFrame(spark, inc), index)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    // the raw store the re-rank fetches from grows with the index
    Gen.writeEmbeddings(spark, inc, raw, SaveMode.Append)
    appendedRows ++= inc
    ms
  }

  def finalChecks(): Seq[(String, Boolean)] = {
    val stored = corpusSize.toLong + appended.toLong * appendSize
    val codes = spark.read.parquet(s"$index/codes").count()
    val (r, exact) = recallAt10()
    recall = r
    Seq(
      s"stored index holds 8 codes for each of $stored vectors" -> (codes == stored * 8),
      "served exact_d2 equals the brute-force distance" -> exact,
      f"ann_recall_at_10 $recall%.3f >= $MinRecall" -> (recall >= MinRecall))
  }

  /** The first measured batch's served top-10 against the exact
    * brute-force top-10 over what was stored when it ran (corpus and
    * appends), on the quantised integer distances the engine ranks by.
    * Ties at the 10th distance count as hits. Also whether every served
    * distance is the exact one. */
  private def recallAt10(): (Double, Boolean) = {
    val (qs, first, rows, appendedThen) = sample.getOrElse(sys.error("no batch was served"))
    val stored = (corpus ++ appendedThen).map { case (id, v, _) => (id, quant(v)) }
    val served = rows.groupBy(_._1)
    var hits = 0.0
    var exact = true
    for ((q, i) <- qs.zipWithIndex) {
      val qq = quant(q)
      val dist = stored.map { case (id, v) => id -> sqDist(qq, v) }.toMap
      val kth = dist.values.toArray.sorted.apply(9)
      val got = served.getOrElse(first + i, Array.empty)
      hits += got.count(r => dist.get(r._3).exists(_ <= kth)) / 10.0
      exact &&= got.forall(r => dist.get(r._3).contains(r._4))
    }
    (hits / qs.length, exact)
  }

  def figures(): Seq[(String, Figure)] =
    Seq(p90Figure(queryKind), "ann_recall_at_10" -> Figure(Some(recall), "ratio", batchSize))
}

object AnnServe {
  // well under what a correct engine scores on every seed tried
  val MinRecall = 0.5

  /** The engine's quantisation: floor(x · 1e4) as a long. */
  def quant(v: Array[Float]): Array[Long] = v.map(x => math.floor(x.toDouble * 1e4).toLong)

  def sqDist(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
