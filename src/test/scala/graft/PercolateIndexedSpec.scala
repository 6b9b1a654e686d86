package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{TextIndex, TextOps}
import graft.store.IndexCore

/**
 * Indexed phrase percolation: phrase rules stored as a text index
 * match document batches through the positional join — identical
 * output to the literal-rule percolatePhrases, no rule broadcast, no
 * rule-count cap, rules prunable/compactable/forgettable like any
 * index.
 */
class PercolateIndexedSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // pos leg only: a rule registry needs positions, not fuzzy/forward
  private val RuleLegs =
    TextIndex.LegProfile(pos = true, del = false, docs = false)

  private lazy val batch = Seq(
    (0L, "kernel panic in the scan scan scan loop"),
    (1L, "window scan window window merge"),
    (2L, "all quiet nothing alarming here"),
    (3L, "panic panic panic"))
    .toDF("doc_id", "text")

  private val rules = Seq(
    (100L, "kernel panic"),
    (101L, "scan scan"), // overlapping self-similar: 2 starts in doc 0
    (102L, "window scan window"),
    (103L, "panic panic panic"),
    (104L, "absent phrase entirely"))

  private def runIndexed(idx: String) = TextIndex
    .percolateIndexed(spark, idx, batch, "doc_id", "text")
    .orderBy("query_id", "doc_id").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("indexed percolation equals the literal-rule path exactly — " +
      "overlaps, adjacent repeats, sharding and compaction included") {
    val idx = TestSpark.tmpDir("perc_idx")
    val ruleDf = rules.toDF("doc_id", "text")
    for (i <- 0 until 2)
      TextIndex.ingestShard(spark, idx,
        ruleDf.where(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text", key = Some(s"r$i"), legs = RuleLegs)
    val literal = TextOps
      .percolatePhrases(batch, "doc_id", "text", rules)
      .orderBy("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(runIndexed(idx) == literal,
      s"indexed path diverges: ${runIndexed(idx)} vs $literal")
    // the fixture exercises the hard cases
    assert(literal.contains((101L, 0L, 2L)),
      "overlapping 'scan scan' must count 2 starts")
    assert(literal.contains((103L, 3L, 1L)),
      "self-similar triple counts exactly one full cover")
    assert(!literal.exists(_._1 == 104L), "absent phrase must not match")
    // rule registry lifecycle: compaction changes nothing
    TextIndex.compact(spark, idx)
    assert(runIndexed(idx) == literal, "compaction changed matches")
    // plan: the rule-side positional scan prunes to the BATCH's token
    // buckets (PartitionFilters on tb) and the rule set is never a
    // literal broadcast — the probe cost is the shared-vocabulary
    // rules, not the registry
    val plan = TextIndex
      .percolateIndexed(spark, idx, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
      s"rule-side token-bucket pruning missing:\n${plan.take(2000)}")
  }

  test("a forgotten rule stops matching immediately (needs the docs " +
      "leg, so a Serving-profile registry deletes in place)") {
    val idx = TestSpark.tmpDir("perc_idx_forget")
    TextIndex.ingestShard(spark, idx, rules.toDF("doc_id", "text"),
      "doc_id", "text") // Serving profile: forward store carries rules
    assert(runIndexed(idx).exists(_._1 == 101L))
    TextIndex.forgetDocs(spark, idx, Seq(101L), key = Some("unsub"))
    val after = runIndexed(idx)
    assert(!after.exists(_._1 == 101L), "deleted rule still matching")
    assert(after.exists(_._1 == 100L), "unrelated rules must survive")
    TextIndex.compact(spark, idx)
    assert(runIndexed(idx) == after)
  }

  test("an edited rule matches its NEW phrase exactly-once: upsertDocs " +
      "on the registry swaps the match set; redelivery is a " +
      "version-preserving no-op; Minimal-profile registries can still " +
      "delete via forgetDocsRebuild") {
    val idx = TestSpark.tmpDir("perc_idx_edit")
    TextIndex.ingestShard(spark, idx, rules.toDF("doc_id", "text"),
      "doc_id", "text") // Serving profile: upsert needs the docs leg
    assert(runIndexed(idx).exists(_._1 == 104L) == false)
    // edit rule 104 from the absent phrase to one that matches doc 3
    TextIndex.upsertDocs(spark, idx,
      Seq((104L, "panic panic")).toDF("doc_id", "text"),
      "doc_id", "text", key = Some("edit104"))
    val after = runIndexed(idx)
    assert(after.contains((104L, 3L, 2L)),
      "edited rule must match its new phrase (2 overlapping starts)")
    assert(after.exists(_._1 == 100L), "unrelated rules must survive")
    val v = IndexCore.version(spark, idx)
    TextIndex.upsertDocs(spark, idx,
      Seq((104L, "panic panic")).toDF("doc_id", "text"),
      "doc_id", "text", key = Some("edit104"))
    assert(IndexCore.version(spark, idx) == v,
      "redelivered rule edit must be a version-preserving no-op")
    // a pos-only registry (no docs leg) deletes via the direct rewrite
    val min = TestSpark.tmpDir("perc_idx_min")
    TextIndex.ingestShard(spark, min, rules.toDF("doc_id", "text"),
      "doc_id", "text", legs = RuleLegs)
    TextIndex.forgetDocsRebuild(spark, min, Seq(101L), key = Some("rm"))
    assert(!runIndexed(min).exists(_._1 == 101L),
      "rebuild-deleted rule still matching")
    assert(runIndexed(min).exists(_._1 == 100L))
  }

  test("an empty batch answers empty with the result schema") {
    val idx = TestSpark.tmpDir("perc_idx_empty")
    TextIndex.ingestShard(spark, idx, rules.toDF("doc_id", "text"),
      "doc_id", "text", legs = RuleLegs)
    val empty = TextIndex.percolateIndexed(spark, idx,
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text")
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq ==
      Seq("query_id", "doc_id", "n_occurrences"))
  }
}
