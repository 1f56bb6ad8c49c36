package graft

import org.apache.spark.sql.functions._
import graft.operators.Dsir

class DsirSpec extends SparkSpec {
  import spark.implicits._

  test("importance weights rank target-like raw docs above disjoint ones") {
    val target = Seq((100L, "alpha beta alpha beta"), (101L, "alpha gamma"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha"), // shares unigrams AND the alpha-beta bigram
      (2L, "delta epsilon zeta"), // fully disjoint from the target
      (3L, "alpha delta")) // one shared unigram
      .toDF("doc_id", "text")
    val w = Dsir.importanceWeights(raw, target)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet === Set(1L, 2L, 3L))
    assert(w(1L) > w(3L), s"target-like must outrank partial: $w")
    assert(w(3L) > w(2L), s"partial must outrank disjoint: $w")
    val top = Dsir.selectTopK(raw, target, 2)
      .select($"doc_id").as[Long].collect().toSeq
    assert(top === Seq(1L, 3L))
  }

  test("hashed serving form equals the string form on the fixture (no 64-bit collisions)") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text", $"lang")
    val raw = docs.filter($"lang" =!= "es")
    val target = docs.filter($"lang" === "es")
    val s = Dsir.importanceWeights(raw, target)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val h = Dsir.importanceWeightsHashed(raw, target)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s === h, "hash-keyed rewrite must not move a single 6dp weight")
    assert(s.nonEmpty)
  }

  test("raw corpus is n-gram-exploded ONCE per form (exchange reused, scan halved)") {
    // The corpus-level n_r counts must derive from docNg's (id, ng)
    // exchange, not a second ngrams(raw) explode. Plan-STRING explode
    // counting can't see this (tree printouts duplicate shared DAG
    // subtrees), so pin the runtime effect: after execution the
    // adaptive plan carries ReusedExchange nodes — the n_r branch (and
    // the vocab/totals sharing) physically reused a stage instead of
    // rescanning. The ProbeDsirScan probe measured the quantitative half: file
    // input records dropped ~2× vs the pre-fix double-explode replica.
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val raw = docs.filter($"lang" =!= "es")
    val target = docs.filter($"lang" === "es")
    for (w <- Seq(Dsir.importanceWeights(raw, target),
        Dsir.importanceWeightsHashed(raw, target))) {
      w.collect()
      val p = w.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"),
        "the corpus-count branch must reuse docNg's exchange:\n" + p)
    }
  }

  test("q163 plan: partial aggs, no window, heap top-k") {
    val p = SparkEntry.queries("q163_dsir_select")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-k must heap-prune:\n" + p)
    assert(p.contains("partial_"), p)
  }
}
