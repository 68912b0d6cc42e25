package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Hand fixtures for the round-17 operators: cal3 (expected/maximum
  * calibration error), fd3 (inclusion-dependency profiling), srch3
  * (Dirichlet query-likelihood retrieval), lm3 (Kneser-Ney bigram
  * probabilities). Each pins exact values computed by hand or against
  * an independently-computed formula — the DuckDB oracle is the third
  * anchor, checked by the driver gate.
  */
class Round17OpsSpec extends SparkTestBase {

  test("cal3: ECE is the n-weighted mean and MCE the max of cal2's per-bin gaps") {
    val cal2 = Analytics.brierDecomposition(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))) // n_docs, mean_p, pos_rate
    val n = cal2.map(_._1).sum
    val eceRef = cal2.map { case (nb, mp, pr) => nb * math.abs(pr - mp) }.sum / n
    val mceRef = cal2.map { case (_, mp, pr) => math.abs(pr - mp) }.max
    val r = Analytics.calibrationError(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == n)
    assert(math.abs(row.getDouble(2) - eceRef) < 2e-6,
      s"ece ${row.getDouble(2)} vs cal2-derived $eceRef") // cal2 columns are 9-dp rounded
    assert(math.abs(row.getDouble(3) - mceRef) < 2e-6)
    assert(row.getDouble(3) >= row.getDouble(2), "MCE (max) must dominate ECE (weighted mean)")
    assert(row.getDouble(2) >= 0.0 && row.getDouble(3) <= 1.0)
  }

  /** The hand-built fd3 warehouse; `events` is the one table the cases vary. */
  private def fd3Warehouse(events: org.apache.spark.sql.DataFrame): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fd3").toString
    def save(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    save("region", Seq((0L, "r0"), (1L, "r1")).toDF("r_regionkey", "r_name"))
    save("nation", Seq((0L, 0L), (1L, 0L), (2L, 1L)).toDF("n_nationkey", "n_regionkey"))
    save("customer", Seq((10L, 0L), (11L, 2L)).toDF("c_custkey", "c_nationkey"))
    save("supplier", Seq((20L, 1L), (21L, 9L)).toDF("s_suppkey", "s_nationkey")) // 9 orphan
    save("part", Seq((30L, "p")).toDF("p_partkey", "p_name"))
    save("orders", Seq((40L, 10L), (41L, 10L), (42L, 99L)).toDF("o_orderkey", "o_custkey")) // 99 orphan
    save("lineitem", Seq((40L, 30L, 20L), (41L, 30L, 20L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey"))
    save("events", events)
    dir
  }

  test("fd3: hand-built warehouse with one violated and one satisfied dependency") {
    import spark.implicits._
    val dir = fd3Warehouse(
      Seq((1L, 10L, 1000000000L), (2L, 11L, 2000000000L), (3L, 77L, 3000000000L))
        .toDF("event_id", "user_id", "ts")) // 77 orphan vs customer
    val rows = Analytics.inclusionDeps(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getDouble(5))).toMap
    assert(rows.size == 8)
    // fully contained FK edge
    assert(rows("lineitem.l_orderkey -> orders.o_orderkey") == ((2L, 2L, 0L, true, 1.0)))
    assert(rows("nation.n_regionkey -> region.r_regionkey") == ((3L, 2L, 0L, true, 1.0)))
    // violated candidates with hand-computed ratios
    assert(rows("orders.o_custkey -> customer.c_custkey") ==
      ((3L, 2L, 1L, false, 0.5)), rows("orders.o_custkey -> customer.c_custkey").toString)
    assert(rows("events.user_id -> customer.c_custkey")._3 == 1L) // 77
    assert(rows("supplier.s_nationkey -> nation.n_nationkey") == ((2L, 2L, 1L, false, 0.5)))
  }

  test("fd3: an all-NULL child column has no orphans and is contained") {
    import spark.implicits._
    // zero non-NULL child values: the oracle's COUNT(*) over no orphans
    // is 0, so the dependency holds vacuously; the ratio is 0/0 -> NULL
    val dir = fd3Warehouse(
      Seq((1L, Option.empty[Long], 1000000000L), (2L, Option.empty[Long], 2000000000L))
        .toDF("event_id", "user_id", "ts"))
    val r = Analytics.inclusionDeps(spark, dir).collect()
      .find(_.getString(0) == "events.user_id -> customer.c_custkey").get
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)) == ((0L, 0L, 0L, true)),
      r.toString)
    assert(r.isNullAt(5), r.toString)
  }

  test("fd3: the TPC-H FK edges are contained on the generated data") {
    val rows = Analytics.inclusionDeps(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getBoolean(4)).toMap
    Seq("lineitem.l_orderkey -> orders.o_orderkey",
      "lineitem.l_partkey -> part.p_partkey",
      "lineitem.l_suppkey -> supplier.s_suppkey",
      "orders.o_custkey -> customer.c_custkey",
      "customer.c_nationkey -> nation.n_nationkey",
      "supplier.s_nationkey -> nation.n_nationkey",
      "nation.n_regionkey -> region.r_regionkey").foreach { dep =>
      assert(rows(dep), s"TPC-H guarantees containment for $dep")
    }
  }

  test("srch3: hand-computed Dirichlet query-likelihood scores") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srch3").toString
    // vocab: apple (ctf 3), banana (ctf 2), cherry (ctf 1); total 6 toks
    Seq((1L, "apple banana apple"), (2L, "banana cherry"), (3L, "apple"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val mu = 2000.0
    def term(tf: Long, ctf: Long, dl: Long): Long = {
      val p = ctf.toDouble / 6.0
      math.floor(math.log((tf.toDouble + mu * p) / (dl.toDouble + mu)) * 1000000L + 0.5).toLong
    }
    // query = all 3 terms (nTerms default 5 > vocab); every doc scores all 3
    val expected = Map(
      1L -> (term(2, 3, 3) + term(1, 2, 3) + term(0, 1, 3)),
      2L -> (term(0, 3, 2) + term(1, 2, 2) + term(1, 1, 2)),
      3L -> (term(1, 3, 1) + term(0, 2, 1) + term(0, 1, 1)))
    val rows = TextAnalysis.qlmTopDocs(spark, dir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(2) == expected(r.getLong(0)),
        s"doc ${r.getLong(0)}: got ${r.getLong(2)}, want ${expected(r.getLong(0))}")
    }
    // matched-term counts: doc1 has apple+banana, doc2 banana+cherry, doc3 apple
    val matched = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(matched == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
    // ranking is total-ordered by (score desc, doc_id)
    val scores = rows.map(r => (r.getLong(2), r.getLong(0)))
    assert(scores.sortBy { case (s, d) => (-s, d) }.toSeq == scores.toSeq)
  }

  test("lm3: hand-computed Kneser-Ney probabilities on a 3-bigram corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lm3").toString
    // one doc "x y x y z": bigrams (x,y)x2, (y,x)x1, (y,z)x1
    Seq((1L, "x y x y z")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.knBigramLm(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
      .toMap
    assert(rows.size == 3)
    // P(y|x) = (2-.75)/2 + .75*(1/2)*(1/3) = 0.625 + 0.125 = 0.75
    assert(rows(("x", "y")) == ((2L, 2L, 1L, 1L, 3L, 0.75)))
    // P(x|y) = (1-.75)/2 + .75*(2/2)*(1/3) = 0.125 + 0.25 = 0.375
    assert(rows(("y", "x")) == ((1L, 2L, 2L, 1L, 3L, 0.375)))
    assert(rows(("y", "z")) == ((1L, 2L, 2L, 1L, 3L, 0.375)))
    // per-context observed mass never exceeds 1 (the discount makes
    // room for unseen continuations)
    Seq("x", "y").foreach { w1 =>
      val mass = rows.collect { case ((a, _), v) if a == w1 => v._6 }.sum
      assert(mass <= 1.0 + 1e-9, s"context $w1 mass $mass")
    }
  }

  test("mix3: temperature flattens the source distribution; alpha=1 is the identity") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mix3").toString
    // source A: 8 tokens, source B: 2 tokens -> p = 0.8 / 0.2
    Seq((1L, "t t t t t", "A"), (2L, "t t t", "A"), (3L, "t t", "B"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def wMicro(p: Double, a: Double): Long = math.floor(math.pow(p, a) * 1e6 + 0.5).toLong
    val r = TextAnalysis.temperatureMix(spark, dir).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5))).toMap
    assert(r("A")._1 == 8L && r("B")._1 == 2L)
    assert(r("A")._2 == 0.8 && r("B")._2 == 0.2)
    assert(r("A")._3 == wMicro(0.8, 0.7) && r("B")._3 == wMicro(0.2, 0.7))
    val (wa, wb) = (wMicro(0.8, 0.7).toDouble, wMicro(0.2, 0.7).toDouble)
    assert(math.abs(r("A")._4 - wa / (wa + wb)) < 1e-9)
    // the whole point of temperature: minority upsampled, majority down
    assert(r("B")._4 > 0.2 && r("A")._4 < 0.8)
    assert(r("B")._5 > 1.0 && r("A")._5 < 1.0, "B must read >1 effective epochs")
    assert(math.abs(r("A")._4 + r("B")._4 - 1.0) < 1e-5)
    // alpha = 1 reduces to the raw distribution
    val id = TextAnalysis.temperatureMix(spark, dir, alpha = 1.0).collect()
      .map(x => x.getString(0) -> (x.getDouble(4), x.getDouble(5))).toMap
    assert(math.abs(id("A")._1 - 0.8) < 1e-5 && math.abs(id("B")._1 - 0.2) < 1e-5)
    assert(math.abs(id("A")._2 - 1.0) < 1e-4 && math.abs(id("B")._2 - 1.0) < 1e-4)
  }

  test("imb2: hand-computed effective numbers; weights sum to the class count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("imb2").toString
    Seq((1L, Array(0.1f), 0), (2L, Array(0.2f), 0), (3L, Array(0.3f), 0),
      (4L, Array(0.4f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val r = Similarity.effectiveNumberWeights(spark, dir).collect()
      .map(x => x.getInt(0) -> (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    // E_0 = (1 - 0.999^3)/0.001 via the micros route: beta^3 = 0.997002999
    // -> 997003 micros -> (1000000 - 997003)/1000 = 2.997
    assert(r(0)._1 == 3L && r(0)._2 == 2.997)
    assert(r(1)._1 == 1L && r(1)._2 == 1.0)
    // weights: inv_nano 333667000 / 1000000000, normalized x2 classes
    val (i0, i1) = (333667000.0, 1.0e9)
    assert(math.abs(r(0)._3 - i0 / (i0 + i1) * 2) < 1e-9, s"got ${r(0)._3}")
    assert(math.abs(r(1)._3 - i1 / (i0 + i1) * 2) < 1e-9)
    assert(r(1)._3 > r(0)._3, "the minority class must weigh more")
    assert(math.abs(r(0)._3 + r(1)._3 - 2.0) < 1e-6, "weights sum to n_classes")
  }

  test("dq3: hand-computed Benford digits off the exact micros string") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dq3").toString
    // digits: 1.5 -> 1, 19.99 -> 1, 150.0 -> 1, 2.5 -> 2, 999.0 -> 9;
    // 0 and negatives are out of Benford's domain and must be excluded
    Seq((1L, 1.5), (2L, 19.99), (3L, 150.0), (4L, 2.5), (5L, 999.0),
      (6L, 0.0), (7L, -5.0))
      .toDF("o_orderkey", "o_totalprice")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val rows = Relational.benfordAudit(spark, dir)
    val r = rows.collect().map(x => x.getInt(0) ->
      (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r.keySet == Set(1, 2, 9))
    assert(r(1)._1 == 3L && r(2)._1 == 1L && r(9)._1 == 1L)
    assert(r(1)._2 == 0.6 && r(2)._2 == 0.2 && r(9)._2 == 0.2)
    def exp(d: Int) = math.log10(1.0 + 1.0 / d)
    def rnd(x: Double, s: Int) = math.floor(x * math.pow(10, s) + 0.5) / math.pow(10, s)
    assert(r(1)._3 == rnd(exp(1), 9))
    assert(r(9)._3 == rnd(exp(9), 9))
    val chi1 = (0.6 - exp(1)) * (0.6 - exp(1)) / exp(1) * 5
    assert(math.abs(r(1)._4 - chi1) < 1e-6, s"chi2 ${r(1)._4} vs $chi1")
  }

  test("ev25: hand-built two-state chain converges to the known stationary distribution") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ev25").toString
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // user 1: A B B B B  -> A->B, B->B x3 ; user 2: B A -> B->A
    // P(A->B)=1.0, P(B->B)=0.75, P(B->A)=0.25 ; stationary = (0.2, 0.8)
    val ev = Seq(
      (1L, ts(1), 1L, "A", 1.0, "{}"), (2L, ts(2), 1L, "B", 1.0, "{}"),
      (3L, ts(3), 1L, "B", 1.0, "{}"), (4L, ts(4), 1L, "B", 1.0, "{}"),
      (5L, ts(5), 1L, "B", 1.0, "{}"),
      (6L, ts(1), 2L, "B", 1.0, "{}"), (7L, ts(2), 2L, "A", 1.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val r = Analytics.markovStationary(spark, dir).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r.keySet == Set("A", "B"))
    assert(r("A")._1 == 1L && r("B")._1 == 4L) // outgoing transition counts
    // independent replay of the exact integer recurrence
    var (va, vb) = (500000L, 500000L)
    (1 to 12).foreach { _ =>
      val na = (vb * 250000L + 500000L) / 1000000L
      val nb = (va * 1000000L + vb * 750000L + 500000L) / 1000000L
      va = na; vb = nb
    }
    assert(r("A")._2 == va && r("B")._2 == vb,
      s"integer recurrence diverged: got ${r("A")._2}/${r("B")._2}, want $va/$vb")
    assert(math.abs(r("A")._3 - 0.2) < 1e-3 && math.abs(r("B")._3 - 0.8) < 1e-3,
      s"stationary ${r("A")._3}/${r("B")._3} should approach (0.2, 0.8)")
    assert(math.abs(r("A")._3 + r("B")._3 - 1.0) < 1e-9, "normalized exactly once")
  }

  test("ev25: uniform chain stays uniform; distribution sums to 1 on real events") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ev25u").toString
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // A->A, A->B, B->A, B->B each once: doubly-stochastic -> uniform fixed point
    val ev = Seq(
      (1L, ts(1), 1L, "A", 1.0, "{}"), (2L, ts(2), 1L, "A", 1.0, "{}"),
      (3L, ts(3), 1L, "B", 1.0, "{}"), (4L, ts(4), 1L, "B", 1.0, "{}"),
      (5L, ts(5), 1L, "A", 1.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val r = Analytics.markovStationary(spark, dir).collect()
    assert(r.map(_.getDouble(3)).forall(x => math.abs(x - 0.5) < 1e-5), r.mkString(","))
    val real = Analytics.markovStationary(spark, sfDir).collect()
    assert(real.nonEmpty)
    assert(math.abs(real.map(_.getDouble(3)).sum - 1.0) < 1e-6)
    assert(real.forall(_.getDouble(3) >= 0.0))
  }

  test("lm3: discounted mass property on the real corpus slice") {
    val rows = TextAnalysis.knBigramLm(spark, sfDir, kTop = 30).collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      val pKn = r.getDouble(7)
      assert(pKn > 0.0 && pKn <= 1.0, s"p_kn out of range: $pKn")
      // the discounted MLE term alone is a lower bound
      val lower = math.max(r.getLong(2) - 0.75, 0.0) / r.getLong(3)
      assert(pKn >= lower - 1e-9)
    }
    // output is total-ordered by (pair_n desc, w1, w2)
    val keys = rows.map(r => (-r.getLong(2), r.getString(0), r.getString(1)))
    assert(keys.sorted.toSeq == keys.toSeq)
  }
}
