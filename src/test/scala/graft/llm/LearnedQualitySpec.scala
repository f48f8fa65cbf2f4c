package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.mr.TestSession

/** Semantics of the learned quality scorer (t22). */
class LearnedQualitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  private def heldOut = LearnedQuality.nbQuality(spark, sf)
    .as[(Long, Int, Long, Int)].collect()

  test("t22: the model actually discriminates — held-out accuracy clears the base rate") {
    val rows = heldOut
    assert(rows.nonEmpty)
    val acc = rows.count { case (_, l, _, p) => l == p }.toDouble / rows.length
    val base = {
      val posRate = rows.count(_._2 == 1).toDouble / rows.length
      math.max(posRate, 1 - posRate) // the best constant predictor
    }
    // measured 0.88 vs 0.51 constant at sf0.001 — the margin is the
    // whole point: a predict-the-prior scorer must FAIL this
    assert(acc >= base + 0.15, s"acc $acc vs constant-predictor $base")
    assert(acc >= 0.75, s"acc $acc")
    // and it predicts BOTH classes (the degenerate all-one scorer is the
    // measured failure mode of unbalanced labels / diluting features)
    assert(rows.exists(_._4 == 0) && rows.exists(_._4 == 1))
  }

  test("t22: only held-out docs are scored, labels are 0/1, scores in ppm range") {
    heldOut.foreach { case (id, l, ss, p) =>
      assert(id % 5 >= 4, s"doc $id is a training doc")
      assert(l == 0 || l == 1)
      assert(p == 0 || p == 1)
      assert(ss >= 0 && ss <= 4L * 1000000L, s"score_sum $ss outside 4 features × 1M")
    }
  }

  test("t22: literal-map scoring reproduces the join path bit-for-bit") {
    import org.apache.spark.sql.functions._
    val model = LearnedQuality.trainModel(spark, sf)
    assert(model.nonEmpty && model.keys.forall(k => "LDSA".contains(k.head)))
    val (score, pred) = LearnedQuality.scoreColumnsFor(model, "st", "text")
    val viaMap = graft.Tables.documents(spark, sf)
      .where(col("doc_id") % 5 >= 4)
      .withColumn("st", graft.functions.TokenStats(col("text")))
      .select(col("doc_id"), score.as("s"), pred.as("p"))
      .as[(Long, Long, Int)].collect()
      .map { case (id, s, p) => id -> ((s, p)) }.toMap
    val viaJoin = heldOut.map { case (id, _, ss, p) => id -> ((ss, p)) }.toMap
    assert(viaMap == viaJoin)
  }

  test("t22: the model side of the scoring join is broadcast") {
    val plan = LearnedQuality.nbQuality(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast model join, got:\n$plan")
  }
}
