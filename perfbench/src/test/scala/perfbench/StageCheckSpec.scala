package perfbench

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StageCheckSpec extends AnyFunSuite {

  test("vector signature ignores vocabulary order but not weights") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      def frame(rows: (Int, org.apache.spark.ml.linalg.Vector)*) = rows.toDF("id", "norm_features")
      val a = frame(1 -> Vectors.sparse(4, Array(0, 2), Array(0.6, 0.8)),
        2 -> Vectors.sparse(4, Array(1), Array(1.0)))
      // the same weights under a permuted vocabulary
      val b = frame(1 -> Vectors.sparse(4, Array(1, 3), Array(0.8, 0.6)),
        2 -> Vectors.dense(0.0, 0.0, 1.0, 0.0))
      val c = frame(1 -> Vectors.sparse(4, Array(0, 2), Array(0.8, 0.6 + 1e-6)),
        2 -> Vectors.sparse(4, Array(1), Array(1.0)))
      assert(MovieEtl.vectorSignature(a) == MovieEtl.vectorSignature(b))
      assert(MovieEtl.vectorSignature(a) != MovieEtl.vectorSignature(c))
      assert(MovieEtl.vectorSignature(a) != MovieEtl.vectorSignature(frame(1 -> Vectors.sparse(4, Array(0, 2), Array(0.6, 0.8)))))
    } finally spark.stop()
  }
}
