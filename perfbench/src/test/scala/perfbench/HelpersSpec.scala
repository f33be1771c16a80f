package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("p90 needs at least ten samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).isEmpty) // 99 - 90 = 9 beyond
    val ys = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(ys, 0.9).contains(90.0)) // 10 beyond
    assert(Stats.percentile(ys.reverse, 0.9).contains(90.0))
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 0.9).contains(900.0))
    assert(Stats.percentile(Seq(1.0, 2.0), 0.5, minBeyond = 1).contains(1.0))
  }

  test("union of job intervals counts overlaps once") {
    assert(Tracer.unionMs(Nil) == 0)
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Tracer.unionMs(Seq((20L, 25L), (0L, 30L))) == 30)
  }

  test("movie CSV is a function of the seed") {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    def gen(seed: Long, name: String) = {
      val f = new java.io.File(dir, name)
      val t = Gen.movies(seed, 2000, f)
      (Files.readAllBytes(f.toPath).toSeq, t)
    }
    val (a, ta) = gen(7, "a.csv")
    val (b, tb) = gen(7, "b.csv")
    val (c, _) = gen(8, "c.csv")
    assert(a == b && ta == tb)
    assert(a != c)
    assert(ta.lines > ta.rows) // some movies are written twice
    assert(ta.survivors.forall(id => id >= 0 && id < 2000))
    // ~44% null posters, ~1% null years, ~3% empty keyword lists
    assert(ta.cleanedRows > 2000 * 0.45 && ta.cleanedRows < 2000 * 0.65)
  }

  test("embeddings, probes and requests are functions of the seed") {
    def emb(seed: Long) = Gen.embeddings(seed, 0L, 300, batch = 0).map(e => (e._1, e._2.toSeq, e._3)).toSeq
    assert(emb(1) == emb(1))
    assert(emb(1) != emb(2))
    val appended = Gen.embeddings(1, 300L, 50, batch = 1)
    assert(appended.map(_._1).toSeq == (300L until 350L))
    assert(appended.map(_._2.toSeq).toSeq != emb(1).take(50).map(_._2))
    val corpus = Gen.embeddings(1, 0L, 300, batch = 0)
    assert(Gen.probes(1, 0, corpus, 5).map(_.toSeq).toSeq ==
      Gen.probes(1, 0, corpus, 5).map(_.toSeq).toSeq)
    val stored = (0L until 2000L by 2).toArray
    assert(Gen.movieRequests(3, stored, 500).toSeq == Gen.movieRequests(3, stored, 500).toSeq)
    assert(Gen.movieRequests(3, stored, 500).toSeq != Gen.movieRequests(4, stored, 500).toSeq)
    val reqs = Gen.movieRequests(3, stored, 5000)
    val absent = reqs.count(_ > stored.max)
    assert(absent > 350 && absent < 650) // about 10%
    assert(reqs.filter(_ <= stored.max).forall(_ % 2 == 0))
  }
}
