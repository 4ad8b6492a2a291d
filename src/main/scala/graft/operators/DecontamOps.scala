package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find training documents that share word
  * n-grams with an evaluation/benchmark set — the standard pre-training
  * hygiene step (a training doc containing a benchmark item's 13-gram
  * leaks the answer into the model).
  *
  * Scale posture: the benchmark side is small by nature (eval suites are
  * thousands of items, the corpus is the 100 TB side) — its distinct
  * shingle hashes BROADCAST, so the corpus scan stays partition-local:
  * one linear pass computing hashed shingles (native kernel, hashed once
  * per shingle), a broadcast hash join, and ONE shuffle for the per-doc
  * hit aggregation. No corpus self-join, no sort.
  */
object DecontamOps {

  /** Per-document benchmark-overlap hits: (doc_id, n_hits) for every doc
    * of `docs` sharing at least one word n-gram with `bench`. n_hits =
    * number of DISTINCT shared n-grams (hashedShingleSet de-dups per doc
    * and the bench side is distinct, so a plain count is exact).
    */
  def contaminationHits(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int
  ): DataFrame = {
    val dSh = docs.select(col(idCol).as("doc_id"),
      explode(DedupOps.hashedShingleSet(col(textCol), n)).as("h"))
    val bSh = bench.select(explode(DedupOps.hashedShingleSet(col(benchTextCol), n)).as("h")).distinct()
    dSh.join(broadcast(bSh), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-BENCHMARK-ITEM contamination report — the audit artifact an
    * eval owner needs: for each benchmark item, how many training docs
    * share at least one word n-gram with it, and how many distinct
    * grams leak. Same scale shape as [[contaminationHits]] (bench side
    * broadcasts, corpus scans once); the aggregation flips to the bench
    * id, which is small by nature, so the final groupBy is tiny.
    */
  def contaminationReport(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      bench: DataFrame,
      benchTextCol: String,
      benchIdCol: String,
      n: Int
  ): DataFrame = {
    val dSh = docs.select(col(idCol).as("doc_id"),
      explode(DedupOps.hashedShingleSet(col(textCol), n)).as("h"))
    val bSh = bench.select(col(benchIdCol).as("bench_id"),
      explode(DedupOps.hashedShingleSet(col(benchTextCol), n)).as("h"))
    dSh.join(broadcast(bSh), "h")
      .groupBy("bench_id")
      .agg(countDistinct(col("doc_id")).as("n_contaminating_docs"),
        countDistinct(col("h")).as("n_shared_grams"))
  }

  /** Pairwise n-gram-overlap contamination (the GPT-3/PaLM-style check):
    * for each (training doc, benchmark item) pair sharing enough of the
    * ITEM's distinct word n-grams, report the containment fraction
    * |grams(doc) ∩ grams(item)| / |grams(item)|. Unlike
    * [[contaminationHits]] (any single shared gram flags the doc), the
    * fraction separates verbatim inclusion (≈1.0) from incidental
    * phrase collisions, so the eval owner can set a defensible
    * threshold.
    *
    * Same scale posture as the rest of this file: the benchmark side is
    * small by nature → its (item, gram) rows and per-item gram counts
    * broadcast; the corpus scans once; the only shuffle is the
    * (doc, item) hit aggregation, whose size is bounded by matches
    * against the small eval side, not by the corpus.
    */
  def ngramContamination(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      bench: DataFrame,
      benchTextCol: String,
      benchIdCol: String,
      n: Int,
      minOverlap: Double
  ): DataFrame = {
    val dSh = docs.select(col(idCol).as("doc_id"),
      explode(DedupOps.hashedShingleSet(col(textCol), n)).as("h"))
    val bSh = bench.select(col(benchIdCol).as("bench_id"),
      explode(DedupOps.hashedShingleSet(col(benchTextCol), n)).as("h"))
    val bN = bSh.groupBy("bench_id").agg(count(lit(1)).as("bench_n"))
    dSh.join(broadcast(bSh), "h")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(bN), "bench_id")
      .filter(col("n_shared").cast("double") / col("bench_n") >= minOverlap)
      .select(col("doc_id"), col("bench_id"), col("n_shared"), col("bench_n"),
        round(col("n_shared").cast("double") / col("bench_n"), 4).as("overlap"))
  }

  /** Training rows with benchmark overlap removed (anti join on hits). */
  def decontaminated(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int
  ): DataFrame = {
    val hits = contaminationHits(docs, textCol, idCol, bench, benchTextCol, n)
    docs.join(hits, docs(idCol) === hits("doc_id"), "left_anti")
  }
}
