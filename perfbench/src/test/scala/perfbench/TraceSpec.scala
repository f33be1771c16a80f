package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("jobs, stages and tasks are attributed to the span that submitted them") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val tracer = new Tracer(spark, enabled = true)
      val df = spark.range(0, 1000, 1, 2)
      df.count() // before any op: not attributed
      tracer.op(traced = true) {
        tracer.span("one_job")(spark.sparkContext.parallelize(1 to 100, 2).sum())
        tracer.span("shuffle")(df.groupBy(col("id") % 7).count().collect())
        tracer.span("no_job")(1 + 1)
      }
      tracer.op(traced = false)(tracer.span("untraced")(df.count()))
      assert(spark.sparkContext.getLocalProperty(Tracer.SpanKey) == null)
      spark.stop() // drains the listener bus
      val byName = tracer.spans.map(r => r.name -> tracer.listener.get(r.key)).toMap
      assert(tracer.spans.map(_.name) == Seq("one_job", "shuffle", "no_job"))
      assert(byName("one_job").jobs == 1)
      assert(byName("one_job").stages == 1 && byName("one_job").tasks == 2)
      assert(byName("one_job").shuffleBytes == 0)
      assert(byName("shuffle").jobs >= 1)
      assert(byName("shuffle").shuffleBytes > 0)
      assert(byName("no_job").jobs == 0 && byName("no_job").tasks == 0)
    } finally spark.stop()
  }
}
