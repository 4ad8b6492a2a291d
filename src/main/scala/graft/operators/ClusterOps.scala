package graft.operators

import graft.functions.ExactSum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clustering-adjacent operators: a relational Lloyd (k-means) step over
  * an embedding column, duplicate-cluster size statistics, and the
  * leakage-safe grouped train/val/test split (all members of a near-dup
  * cluster land in the SAME fold, so eval never scores near-copies of
  * training rows — the split contamination mode a plain per-doc hash
  * split cannot prevent).
  *
  * Scale posture (100 TB):
  *  - kmeansStep: the centroid set rides as a ONE-ROW broadcast frame
  *    (collect_list of k (cid, vec) structs); assignment is a pure
  *    projection — an `aggregate` HOF argmin over the broadcast array —
  *    so the corpus is never shuffled to be assigned. The only shuffle
  *    is the k-row centroid update (groupBy cluster with map-side
  *    partial aggregation). This is the same "attach a small aggregate
  *    via broadcast" idiom the IVF index uses, kept fully relational.
  *  - clusterSizeStats / groupedSplit consume the (id, cluster_id)
  *    component frame, which is DUP-SIZED (only docs that appear in a
  *    verified pair), ≪ corpus. The corpus join in groupedSplit is left
  *    unhinted: AQE broadcasts the component side when it is small and
  *    falls back to a skew-splittable shuffle join when a pathological
  *    corpus makes it large.
  *
  * Reference scope: the reference ships generic SQL transforms only
  * (core/src/main/scala/dev/mauch/spark/etl — no clustering layer);
  * these extend the curation surface on the engine side.
  */
object ClusterOps {

  /** Compute the near-dup component frame ONCE and pin it
    * (localCheckpoint) so the whole apply side of dedup reuses it
    * instead of re-running the pointer-jumping loop per consumer — the
    * `materializeSignatures` idiom lifted to the cluster level. A real
    * pipeline computes this once per corpus snapshot and fans out:
    * {{{
    * val comp = ClusterOps.materializeComponents(pairs)  // CC runs once
    * val kept  = DedupOps.applyPairDedup(docs, "doc_id", pairs, components = Some(comp))
    * val stats = ClusterOps.clusterSizeStats(docs, comp)
    * val folds = ClusterOps.groupedSplit(docs, "doc_id", comp)
    * }}}
    * The driver queries (`data_survivors`, `dedup_cluster_stats`,
    * `data_grouped_split`) each rebuild their own frame because every
    * oracle-checked query must be self-contained — which is why three
    * bench queries each pay the CC loop; this helper is the lever a user
    * pulls to pay it once.
    */
  def materializeComponents(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id"
  ): DataFrame =
    GraphOps.connectedComponents(pairs, aCol, bCol).transform(Ckpt.eagerCkpt)

  /** One Lloyd iteration of k-means over `vecCol`, fully relational and
    * engine-exact: initial centroids are the `k` vectors with smallest
    * `idCol` (deterministic, no RNG), assignment distance is squared
    * euclidean computed in DOUBLE with a fixed left-fold operation order
    * and rounded to 6 decimals (bit-identical across engines), ties
    * break on the smaller centroid id, and the updated centroid means
    * are DECIMAL-summed (order-independent → replay-stable, same
    * property meanPool pins). Returns one row per surviving cluster:
    * (cluster_id, n_members, c0, c1) where c0/c1 are the first two
    * components of the post-step centroid.
    */
  def kmeansStep(embeddings: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = embeddings.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    // k smallest ids → one row holding [(cid, centroid_vec)] — bounded
    // k×dim driver state, the same budget ivfTopK's centroid table has
    val cents = v.orderBy("vec_id").limit(k)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))).as("cents"))
    // argmin over the broadcast centroid array: pure projection, zero
    // corpus shuffle. collect_list order is nondeterministic, but the
    // explicit (dist, cid) min comparison is order-independent.
    val best = aggregate(
      col("cents"),
      struct(lit(Double.MaxValue).as("dist"), lit(Long.MaxValue).as("cid")),
      (acc, c) => {
        val d = round(
          aggregate(zip_with(col("v"), c.getField("cv"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (s, e) => s + e),
          6)
        when(d < acc.getField("dist") ||
          (d === acc.getField("dist") && c.getField("cid") < acc.getField("cid")),
          struct(d.as("dist"), c.getField("cid").as("cid"))).otherwise(acc)
      })
    val dec = "decimal(28,12)"
    v.crossJoin(broadcast(cents))
      .select(col("v"), best.getField("cid").as("cluster_id"))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        (sum(element_at(col("v"), 1).cast(dec)).cast("decimal(38,12)").cast("double")
          / count(lit(1))).as("c0"),
        (sum(element_at(col("v"), 2).cast(dec)).cast("decimal(38,12)").cast("double")
          / count(lit(1))).as("c1"))
      .orderBy("cluster_id")
  }

  /** Simplified-silhouette clustering-quality audit: the O(n·k)
    * centroid-silhouette (a = squared distance to the OWN centroid,
    * b = min squared distance to any OTHER centroid,
    * s = (b−a)/max(a,b), 0 when both are 0) — the corpus-scale stand-in
    * for Rousseeuw's O(n²) silhouette, and the audit that tells a
    * SemDeDup/IVF operator whether its cells actually separate (mean s
    * near 0 or negative ⇒ k is wrong or the space is degenerate).
    *
    * Centroids follow [[kmeansStep]]'s deterministic convention (the k
    * smallest-id vectors as a broadcast 1-row literal array); distances
    * are round-6 squared euclidean and the per-vector s is rounded to 6
    * before the decimal-exact mean, so every comparison replays
    * cross-engine. One broadcast cross join + one groupBy — a pure
    * map-side projection over the corpus, zero pair work. Returns
    * (cluster_id, n_members, mean_silhouette).
    */
  def silhouetteReport(embeddings: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = embeddings.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val cents = v.orderBy("vec_id").limit(k)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))).as("cents"))
    // two-min fold over the broadcast centroid array — order-independent
    // despite collect_list's nondeterministic order: (d1, c1) is the
    // lexicographic min over (dist, cid) and d2 the min of the remaining
    // distance multiset, both order-free. Invariant d1 ≤ d2 throughout.
    val best = aggregate(
      col("cents"),
      struct(lit(Double.MaxValue).as("d1"), lit(Long.MaxValue).as("c1"),
        lit(Double.MaxValue).as("d2")),
      (acc, c) => {
        val d = round(
          aggregate(zip_with(col("v"), c.getField("cv"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (s, e) => s + e),
          6)
        when(d < acc.getField("d1") ||
          (d === acc.getField("d1") && c.getField("cid") < acc.getField("c1")),
          struct(d.as("d1"), c.getField("cid").as("c1"), acc.getField("d1").as("d2")))
          .otherwise(struct(acc.getField("d1").as("d1"), acc.getField("c1").as("c1"),
            least(acc.getField("d2"), d).as("d2")))
      })
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), best.as("b"))
      .select(col("b.c1").as("cluster_id"),
        when(greatest(col("b.d1"), col("b.d2")) === 0d, lit(0d))
          .otherwise(round((col("b.d2") - col("b.d1")) /
            greatest(col("b.d1"), col("b.d2")), 6)).as("s"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        round(ExactSum(col("s"), 6).cast("double") / count(lit(1)), 6).as("mean_silhouette"))
      .orderBy("cluster_id")
  }

  /** Cluster-size histogram of a near-dup component frame
    * ((id, cluster_id) rows from [[GraphOps.connectedComponents]]):
    * (cluster_size, n_clusters), INCLUDING the size-1 row for documents
    * that appear in no pair — the number a dedup report actually needs
    * ("how much of the corpus is unique?"). Components are dup-sized;
    * the singleton count is corpus_total − clustered, attached via two
    * one-row aggregate frames (no corpus join).
    */
  def clusterSizeStats(docs: DataFrame, components: DataFrame): DataFrame = {
    val hist = components.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
    val singles = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(components.agg(count(lit(1)).as("n_clustered")))
      .select(lit(1L).as("cluster_size"), (col("n_docs") - col("n_clustered")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    // component clusters have ≥2 members by construction (every node is
    // on an edge), so the union cannot collide with the size-1 row
    hist.unionByName(singles).orderBy("cluster_size")
  }

  /** Leakage-safe deterministic split: every document is assigned the
    * fold of its near-dup cluster REPRESENTATIVE (min member id; docs in
    * no cluster represent themselves), using the same md5 bucket rule as
    * [[SplitOps.assignSplit]]. Near-duplicates therefore never straddle
    * train/eval. Pure projection plus one unhinted join against the
    * dup-sized component frame.
    */
  def groupedSplit(
      docs: DataFrame,
      idCol: String,
      components: DataFrame,
      trainBuckets: Int = 12,
      valBuckets: Int = 2
  ): DataFrame = {
    val comp = components.select(col("id").as(idCol), col("cluster_id").as("rep_id"))
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("rep_id", coalesce(col("rep_id"), col(idCol)))
      .withColumn("split", SplitOps.assignSplit(col("rep_id"), trainBuckets, valBuckets))
  }
}
