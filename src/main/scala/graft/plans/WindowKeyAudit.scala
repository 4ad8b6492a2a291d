package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression, Literal, Pmod, Remainder}
import org.apache.spark.sql.catalyst.plans.logical._

/** SURVEY §5.1's window key-cardinality audit as a STANDING gate
  * (round-12 verdict item 4: three of round 12's 33 new rows shipped
  * low-card RAW windows — the hot-partition class the repo rewrote in
  * round 8 — because the audit was a hand-maintained table, not a spec).
  *
  * The hazard: `Window.partitionBy(k)` moves every row of the window's
  * input into one task per distinct k. If k's domain is FIXED (an
  * event_type, a source, a returnflag — it does not grow with the data)
  * and the input is DATA-SIZED (a raw scan, or an aggregate keyed by a
  * data-proportional key like user_id), each partition holds a
  * data-proportional slice: fine at sf0.1, a straggler at 100× and an
  * OOM at 100 TB.
  *
  * Classification, mirroring §5.1's classes:
  *  - a Window whose partition keys reference ANY column outside
  *    [[lowCardNames]] is high-card/bounded or caller-bound → safe;
  *  - all-low-card keys over an input whose every frontier is a
  *    [[DomainAgg]] (aggregate keyed only by domain/calendar/band
  *    columns), a limit, a WindowGroupLimit (rank-predicate heap), or a
  *    local relation → domain-grid → safe;
  *  - all-low-card keys over a frontier that reaches a raw relation or
  *    a data-keyed aggregate → the low-card RAW class → a FINDING
  *    unless the query is in [[justified]] (each entry must also appear
  *    in §5.1 with its rationale).
  *
  * X-ray contract: [[PlanAudits]] builds every query with lazy
  * localCheckpoints (Ckpt.lazyCkpt) skipped, so they don't truncate the
  * visible plan — round 12's `events_dgim` finding hid exactly there.
  * Low-card EXPRESSIONS over high-card columns (pmod(user_id, 2)) are
  * detected through [[isSmallModulo]], including when the analyzer
  * extracts the inline expression into a `_wN` projection (traced by
  * exprId to its defining Alias). EAGER checkpoints (correctness pins)
  * are covered since round 14: `Ckpt.recording` hands PlanAudits every
  * pin's pre-checkpoint optimized plan, and it audits those subtrees
  * too.
  */
object WindowKeyAudit {

  /** Columns whose value domain is fixed — does not grow with the data.
    * Sync with §5.1; adding a low-card TESTDATA column here is how a new
    * query's hot window gets caught. */
  val lowCardNames: Set[String] = Set(
    // testdata semantic low-card columns
    "event_type", "source", "lang", "label", "split", "side", "cohort",
    "cohort_m", "from_type", "f", "slice", "stage", "rule", "rater", "lab",
    "arm", "verdict", "guess", "lang_guess", "dow", "hour", "kind", "scheme", "method",
    // TPC-H bounded-domain columns
    "l_returnflag", "l_linestatus", "l_shipmode", "c_mktsegment",
    "s_nationkey", "c_nationkey", "n_nationkey", "n_regionkey",
    "r_regionkey", "p_brand", "p_type", "p_container", "p_size",
    "o_orderstatus", "o_orderpriority")

  /** Names that bound an aggregate's OUTPUT by a domain grid (calendar
    * units, value bands, sketch grid indices) — an aggregate grouped
    * only by these (plus low-card names) is domain-sized no matter the
    * corpus. */
  val domainNames: Set[String] = Set(
    "day", "week", "month", "year", "hour", "minute", "dow", "d",
    "band", "bb", "bucket", "slab", "bin", "cell", "i", "t", "sub",
    "v", "value", "n_chars", "score_pct", "tf", "pfx", "dur", "dur_days",
    "offset", "age", "lag", "step", "perm", "fold", "b", "code", "q",
    "gram_pos", "w", "hb", "pos", "l_quantity")

  /** Names that make an aggregate's output DATA-PROPORTIONAL — a
    * frontier aggregate grouped by one of these can NOT be blessed as a
    * band table however its other keys look. */
  val highCardNames: Set[String] = Set(
    "user_id", "doc_id", "id", "event_id", "query_id", "neighbor_id", "vec_id",
    "a_id", "b_id", "cluster_id", "chunk_id", "item", "unit", "host",
    "token", "word", "gram", "shingle", "fp", "fp_hash", "src", "dst",
    "node", "c_custkey", "o_custkey", "s_suppkey", "l_suppkey",
    "l_orderkey", "o_orderkey", "l_partkey", "p_partkey", "ps_partkey",
    "ps_suppkey")

  /** Queries allowed to keep an all-low-card raw window, with the §5.1
    * rationale. Keep this SHORT — every entry is a debt the table must
    * justify. */
  val justified: Map[String, String] = Map(
    "q53_window_family" ->
      ("SQL-surface CONFORMANCE query pinning native first/last/nth/lag/lead " +
        "semantics; the scale-safe form of the computation is q43's rewrite"),
    "data_contrastive_pairs" ->
      ("negative-ring sharding key is the md5 prefix LENGTH — prefix-2/3 " +
        "gives 256/4096 shards with identical per-shard pair semantics; " +
        "16 is right for testdata, widen with corpus (§5.1 knob)"))

  sealed trait InputClass
  case object Bounded extends InputClass
  case object DomainAgg extends InputClass
  case object BandedAgg extends InputClass
  case object DataSized extends InputClass

  private def classifyAggKeys(refs: Seq[String], winKeys: Seq[String]): InputClass = {
    val extra = refs.filterNot(winKeys.contains)
    if (refs.forall(n => domainNames.contains(n) || lowCardNames.contains(n)))
      DomainAgg
    // the groupedBandedRank offset-window shape: the frontier aggregate
    // is grouped by the window's keys PLUS finer band/value columns —
    // its output is the band/cell table (~1/1024 of input by the
    // monotone-coarsening contract, or a value domain), not raw rows.
    // A high-card extra key (user_id, doc_id…) voids the bless: that
    // aggregate is data-proportional, not a band table.
    else if (winKeys.forall(refs.contains) && extra.nonEmpty &&
      extra.forall(n => !highCardNames.contains(n)))
      BandedAgg
    else DataSized
  }

  /** The size class of every aggregation frontier under `p`: descend
    * until an Aggregate / limit / leaf decides the branch. `winKeys`
    * are the auditing window's partition-key names (the BandedAgg bless
    * needs them). */
  def inputClasses(p: LogicalPlan, winKeys: Seq[String]): Seq[InputClass] = p match {
    case a: Aggregate =>
      Seq(classifyAggKeys(
        a.groupingExpressions.flatMap(_.references).map(_.name).distinct, winKeys))
    case d: Deduplicate =>
      Seq(classifyAggKeys(d.keys.map(_.name).distinct, winKeys))
    case _: GlobalLimit | _: LocalLimit => Seq(Bounded)
    case _: WindowGroupLimit => Seq(Bounded)
    case _: LocalRelation | _: OneRowRelation => Seq(Bounded)
    case r: Range => Seq(if (r.numElements <= BigInt(1L << 22)) Bounded else DataSized)
    case _: LeafNode => Seq(DataSized)
    case other => other.children.flatMap(c => inputClasses(c, winKeys))
  }

  /** Modulo-by-a-small-literal is low-card whatever column it hashes —
    * `pmod(user_id, 2)` has 2 values however many users exist. The
    * analyzer extracts inline window partition expressions into `_wN`
    * projections, so the shape is detected through the defining Alias. */
  private def isSmallModulo(e: Expression): Boolean = e match {
    case p: Pmod      => smallLit(p.children(1))
    case r: Remainder => smallLit(r.children(1))
    case a: Alias     => isSmallModulo(a.child)
    case c: Cast      => isSmallModulo(c.child)
    case _            => false
  }
  private def smallLit(e: Expression): Boolean = e match {
    case Literal(v: Int, _)  => v > 0 && v <= 64
    case Literal(v: Long, _) => v > 0 && v <= 64
    case _                   => false
  }
  private def definingExpr(p: LogicalPlan, a: Attribute): Option[Expression] =
    p.collect { case proj: Project =>
      proj.projectList.collectFirst { case al: Alias if al.exprId == a.exprId => al.child }
    }.flatten.headOption

  /** Violations in one query's OPTIMIZED plan. */
  def findings(name: String, plan: LogicalPlan): Seq[String] =
    plan.collect {
      case w: Window if w.partitionSpec.nonEmpty =>
        val keys = w.partitionSpec.flatMap(_.references.map(_.name)).distinct
        val allLowCard = w.partitionSpec.forall { pe =>
          pe.references.map(_.name).forall(lowCardNames.contains) ||
            isSmallModulo(pe) ||
            (pe.references.toSeq match {
              case Seq(a) => definingExpr(w.child, a).exists(isSmallModulo)
              case _      => false
            })
        }
        if (allLowCard && !justified.contains(name)) {
          val classes = inputClasses(w.child, keys)
          if (classes.contains(DataSized))
            Seq(s"$name: Window.partitionBy(${keys.mkString(", ")}) over a " +
              s"data-sized input (frontier: ${classes.distinct.mkString("/")}) — " +
              "the §5.1 low-card RAW hot-partition class; rewrite onto " +
              "groupedBandedRank / a rank-predicate group limit / a domain " +
              "aggregate, or justify in WindowKeyAudit.justified + §5.1")
          else Nil
        } else Nil
    }.flatten
}
