package graft

import graft.functions.TextFunctions

/** DuckDB-dialect oracle twins of [[SparkEntry.queries]], aligned
  * column-for-column (the driver sorts columns by name before hashing,
  * so every computed column is aliased identically on both sides).
  * Split from SparkEntry so the query map and the oracle map diff
  * independently as the query count grows.
  */
object Oracles {

  /** DuckDB-dialect twins of `queries`, aligned column-for-column. Keys
    * absent here (minhash/simhash/lsh/approx) get the driver's weaker
    * rows-only check — their semantics are pinned by ScalaTest instead.
    *
    * Cost convention (round 9): the quadratic shingle/pair CTEs (`sh`,
    * `p`) are `AS MATERIALIZED` — DuckDB inlines plain CTEs, so a
    * recursive closure referencing `p` re-ran the O(n²) jaccard join
    * once PER ITERATION (dedup_cluster_radius measured 241s → 11s at
    * sf0.001; the whole cluster family paid the same tax). The gate's
    * DuckDB side is driver-budget, so oracle cost is a correctness-
    * surface concern, not just politeness.
    */
  def sql: Map[String, String] = {
    // shared SQL fragments (DuckDB dialect)
    // collapse-then-trim, mirroring TextFunctions.normText (trim strips
    // only spaces, so the order matters for tab-edged documents)
    val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    // empty-doc alignment (round-2 advisor): DuckDB string_split('', ' ')
    // yields [''] where Spark tokensFromNorm yields [] — the CASE makes
    // every token-derived oracle column agree on empty/whitespace docs
    val toks = s"(CASE WHEN len($norm) = 0 THEN []::VARCHAR[] ELSE string_split($norm, ' ') END)"
    // word n-gram shingles of token list t (DuckDB slice t[a:b] is
    // 1-based inclusive; range(x, y) excludes y) — mirrors
    // TextFunctions.shinglesFromTokens for any n
    def shingles(t: String, n: Int = 3) =
      s"(CASE WHEN len($t) <= $n THEN [array_to_string($t, ' ')] " +
        s"ELSE list_transform(range(1, len($t)-${n - 2}), i -> array_to_string($t[i:i+${n - 1}], ' ')) END)"
    // the quadratic Jaccard join over a distinct-shingle CTE `sh` (columns
    // `id`, s): one row per pair, (a_id, b_id, i = |A∩B|, n = |A| + |B|),
    // read through `jaccard` = |A∩B| / |A∪B| with |A∪B| = n − i — the
    // integers the union's length gave, so the same doubles, without
    // building the union. MATERIALIZED: through a plain subquery DuckDB
    // pushes the threshold filter below the projection and computes the
    // intersection twice per pair
    def jaccardCte(name: String, sh: String, id: String = "doc_id") =
      s"""$name AS MATERIALIZED (SELECT a.$id AS a_id, b.$id AS b_id,
         |  len(list_intersect(a.s, b.s)) AS i, len(a.s) + len(b.s) AS n
         |  FROM $sh a JOIN $sh b ON a.$id < b.$id)""".stripMargin
    val jaccard = "i::DOUBLE / (n - i)"
    def jaccardPairsSql(n: Int, threshold: Double, extraWhere: String = "") =
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", n)}) AS s FROM t),
         |${jaccardCte("ji", "sh")}
         |SELECT a_id, b_id, ROUND($jaccard, 4) AS jaccard
         |FROM ji
         |WHERE $jaccard >= $threshold
         |$extraWhere
         |ORDER BY a_id, b_id""".stripMargin
    val revenue =
      "CAST(CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)"
    val stopAll = TextFunctions.stopwords.values.flatten.toSeq.distinct.sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")
    def markers(l: String) =
      TextFunctions.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
    def sL(l: String) = s"len(list_intersect(list_distinct($toks), ${markers(l)}))"
    val dotExpr = "list_reduce(list_transform(list_zip(a.vec, b.vec), p -> p[1]*p[2]), (x,y) -> x+y)"
    // shared by text_bpe_train / text_bpe_encode: the 8 unrolled BPE
    // training rounds (pair count → argmax → greedy replace under the
    // double-separator encoding) ending at final vocab state v8
    val bpeStages = (1 to 8).map { i =>
      val prev = s"v${i - 1}"
      s"""p$i AS (SELECT u.a AS a, u.b AS b, sum(tf) AS c
         |  FROM (SELECT tf, unnest(list_transform(range(1, len(arr)),
         |         j -> {'a': arr[j], 'b': arr[j+1]})) AS u
         |        FROM (SELECT tf, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS arr FROM $prev)
         |        WHERE len(arr) >= 2)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |v$i AS MATERIALIZED (SELECT replace(sym,
         |    (SELECT chr(31) || a || chr(31) || chr(31) || b || chr(31) FROM m$i),
         |    (SELECT chr(31) || a || b || chr(31) FROM m$i)) AS sym, tf FROM $prev)""".stripMargin
    }.mkString(",\n")
    val bpeUnions = (1 to 8).map(i =>
      s"SELECT $i AS step, a AS l_sym, b AS r_sym, CAST(c AS BIGINT) AS pair_tf FROM m$i")
      .mkString("\nUNION ALL ")
    val bpePrefix =
      s"""WITH t0bpe AS (SELECT $toks AS tk FROM documents),
         |w0t AS (SELECT tok AS word, count(*) AS tf
         |        FROM (SELECT unnest(tk) AS tok FROM t0bpe) WHERE len(tok) > 0 GROUP BY tok),
         |v0 AS (SELECT regexp_replace(word, '(.)', chr(31) || '\\1' || chr(31), 'g') AS sym, tf
         |       FROM w0t),
         |$bpeStages""".stripMargin
    // shared by quality_model_fit / data_active_learning: the probe
    // feature table, HUGEINT moment sums routed to DOUBLE via VARCHAR
    // (correct rounding), and the Cramer solve in linearProbeModel's
    // exact expression order
    val probeFitCtes =
      s"""t AS (SELECT doc_id, lang, len($toks) AS x1,
         |        len(list_filter($toks, x -> list_contains(${markers("en")}, x))) AS x2,
         |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         |m AS (SELECT count(*) AS n_rows,
         |  CAST(CAST(sum(x1) AS VARCHAR) AS DOUBLE) AS sx1,
         |  CAST(CAST(sum(x2) AS VARCHAR) AS DOUBLE) AS sx2,
         |  CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
         |  CAST(CAST(sum(x1::HUGEINT * x1) AS VARCHAR) AS DOUBLE) AS sx11,
         |  CAST(CAST(sum(x2::HUGEINT * x2) AS VARCHAR) AS DOUBLE) AS sx22,
         |  CAST(CAST(sum(x1::HUGEINT * x2) AS VARCHAR) AS DOUBLE) AS sx12,
         |  CAST(CAST(sum(x1::HUGEINT * y) AS VARCHAR) AS DOUBLE) AS sx1y,
         |  CAST(CAST(sum(x2::HUGEINT * y) AS VARCHAR) AS DOUBLE) AS sx2y
         |  FROM t),
         |w AS (SELECT n_rows, sy, sx1y, sx2y, sx1, sx2, sx11, sx12, sx22,
         |  (sy * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1y * sx22 - sx12 * sx2y) + sx2 * (sx1y * sx12 - sx11 * sx2y))
         |    / (CAST(n_rows AS DOUBLE) * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx12 - sx11 * sx2)) AS w0,
         |  (CAST(n_rows AS DOUBLE) * (sx1y * sx22 - sx12 * sx2y) - sy * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx2y - sx1y * sx2))
         |    / (CAST(n_rows AS DOUBLE) * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx12 - sx11 * sx2)) AS w1,
         |  (CAST(n_rows AS DOUBLE) * (sx11 * sx2y - sx1y * sx12) - sx1 * (sx1 * sx2y - sx1y * sx2) + sy * (sx1 * sx12 - sx11 * sx2))
         |    / (CAST(n_rows AS DOUBLE) * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx12 - sx11 * sx2)) AS w2
         |  FROM m)""".stripMargin
    def normExpr(side: String) =
      s"sqrt(list_reduce(list_transform($side.vec, x -> x*x), (x,y) -> x+y))"

    // text_mmr greedy replay (SimilarityOps.mmrRerank): stage 1 =
    // argmax relevance; each later stage anti-joins the selected set,
    // folds MAX sim against it, and picks the argmax of
    // 0.7·rel − (1.0−0.7)·msim with candidate-id tie-break — the same
    // doubles in the same token order as the engine's per-group greedy.
    // sims and scores stay RAW (un-rounded): identical IEEE chains are
    // bit-equal cross-engine, while round() itself is the one op where
    // the engines can disagree at a .5e-7 boundary (seen at sf0.01).
    // shared by quality_isotonic / quality_brier: the hashed-model score
    // CTE + the minimax isotonic fit over (source, bin) integer cells
    val isoCte =
      s"""tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
         |      WHERE token <> '' AND NOT list_contains($stopAll, token)
         |      GROUP BY doc_id, token),
         |b AS (SELECT doc_id,
         |      CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket, tf
         |      FROM f),
         |fb AS (SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf FROM b GROUP BY doc_id, bucket),
         |w AS (SELECT doc_id, tf,
         |      CAST(('0x' || substr(md5('w:' || bucket::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
         |      FROM fb),
         |sc AS (SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS s FROM w GROUP BY doc_id),
         |lab AS (SELECT d.source AS g, sc.s AS score, (d.lang = 'en') AS pos
         |        FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
         |mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM lab),
         |cells AS (SELECT g, (score - lo) // ((hi - lo) // 16 + 1) AS bin,
         |          COUNT(*) AS n, COUNT(CASE WHEN pos THEN 1 END) AS n_pos
         |          FROM lab CROSS JOIN mm GROUP BY g, bin),
         |idx AS (SELECT g, bin, n, n_pos,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS i
         |        FROM cells),
         |pre AS (SELECT g, i, bin, n, n_pos,
         |  SUM(n) OVER wi AS pc, SUM(n_pos) OVER wi AS pp
         | FROM idx WINDOW wi AS (PARTITION BY g ORDER BY i
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |a AS (SELECT lo.g, lo.i AS j, hi.i AS k,
         |  CAST(hi.pp - (lo.pp - lo.n_pos) AS DOUBLE)
         |    / CAST(hi.pc - (lo.pc - lo.n) AS DOUBLE) AS v
         | FROM pre lo JOIN pre hi ON lo.g = hi.g AND lo.i <= hi.i),
         |y AS (SELECT x.g, x.i, MAX(mn) AS yhat FROM (
         |  SELECT a.g, p.i, a.j, MIN(a.v) AS mn
         |  FROM a JOIN pre p ON a.g = p.g AND a.j <= p.i AND a.k >= p.i
         |  GROUP BY a.g, p.i, a.j) x GROUP BY x.g, x.i)""".stripMargin

    val mmrDotCv =
      "list_reduce(list_transform(list_zip(a.cvec, b.cvec), p -> p[1]*p[2]), (x,y) -> x+y)"
    def mmrNormCv(side: String) =
      s"sqrt(list_reduce(list_transform($side.cvec, x -> x*x), (x,y) -> x+y))"
    val mmrStages = (2 to 5).map { t =>
      s"""r$t AS (
         |  SELECT c.query_id, c.cand_id, c.rel, MAX(s.sim) AS msim
         |  FROM cand c
         |  JOIN sims s ON s.query_id = c.query_id AND s.ca = c.cand_id
         |  JOIN sel${t - 1} p ON p.query_id = s.query_id AND p.cand_id = s.cb
         |  LEFT JOIN sel${t - 1} x ON x.query_id = c.query_id AND x.cand_id = c.cand_id
         |  WHERE x.cand_id IS NULL
         |  GROUP BY c.query_id, c.cand_id, c.rel),
         |s$t AS (
         |  SELECT query_id, cand_id, rel, $t AS mmr_rank,
         |         7.0e-1*rel - (1.0e0 - 7.0e-1)*msim AS mmr_score
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY 7.0e-1*rel - (1.0e0 - 7.0e-1)*msim DESC, cand_id) AS rn FROM r$t)
         |  WHERE rn = 1),
         |sel$t AS (SELECT query_id, cand_id FROM sel${t - 1}
         |          UNION ALL SELECT query_id, cand_id FROM s$t)""".stripMargin
    }.mkString(",\n")

    // k-center replay: 8 unrolled argmax-min-distance stages as a
    // RUNNING min-distance chain — each center is a MATERIALIZED 1-row
    // CTE carrying its precomputed norm, each m$t folds the new
    // center's distance into the running LEAST with ONE linear pass
    // (center referenced as a CROSS JOIN column, never a correlated
    // scalar subquery re-evaluated per list element). min is
    // associative, so the fold is value-identical to LEAST over all
    // earlier centers; distance stays 1 − round(raw-vector cosine, 6).
    val kcStages: String = {
      def dot(a: String, b: String) =
        s"list_reduce(list_transform(list_zip($a, $b), p -> p[1]*p[2]), (x,y) -> x+y)"
      val first =
        s"""c1 AS MATERIALIZED (SELECT id, vec AS v, nrm AS cn, 0.0 AS r FROM base ORDER BY id LIMIT 1),
           |m1 AS MATERIALIZED (SELECT b.id, b.vec, b.nrm,
           |  (1 - ROUND(${dot("b.vec", "c.v")} / (b.nrm * c.cn), 6)) AS md
           | FROM base b CROSS JOIN c1 c)""".stripMargin
      val rest = (2 to 8).map { t =>
        val p = t - 1
        val pick =
          s"c$t AS MATERIALIZED (SELECT id, vec AS v, nrm AS cn, md AS r FROM m$p ORDER BY md DESC, id LIMIT 1)"
        if (t == 8) pick
        else
          s"""$pick,
             |m$t AS MATERIALIZED (SELECT m.id, m.vec, m.nrm,
             |  LEAST(m.md, 1 - ROUND(${dot("m.vec", "c.v")} / (m.nrm * c.cn), 6)) AS md
             | FROM m$p m CROSS JOIN c$t c)""".stripMargin
      }
      (first +: rest).mkString(",\n")
    }

    val m = Map(
      "text_gopher_rules" ->
        // integer-exact rule battery: every threshold cross-multiplied
        // or a plain count compare, ppm by integer division
        s"""WITH t AS (SELECT $toks AS tk FROM documents),
           |m AS (SELECT len(tk)::BIGINT AS n_words,
           | len(array_to_string(tk, ''))::BIGINT AS n_letters,
           | COALESCE(list_max(list_transform(tk, t -> len(t))), 0)::BIGINT AS max_len,
           | len(list_filter(tk, t -> list_contains(['the','a','of','to','and','in','is','it'], t)))::BIGINT AS n_stop,
           | COALESCE(list_max(list_transform(list_distinct(tk), t -> len(list_filter(tk, x -> x = t)))), 0)::BIGINT AS top_tok
           | FROM t),
           |v AS (SELECT unnest([
           |  {'rule': 'word_count', 'fail': n_words < 20 OR n_words > 80},
           |  {'rule': 'mean_word_len', 'fail': n_letters < 3*n_words OR n_letters > 7*n_words},
           |  {'rule': 'max_word_len', 'fail': max_len > 7},
           |  {'rule': 'stopwords_min2', 'fail': n_stop < 2},
           |  {'rule': 'top_token_share', 'fail': top_tok*5 > n_words},
           |  {'rule': 'any_rule', 'fail': n_words < 20 OR n_words > 80
           |     OR n_letters < 3*n_words OR n_letters > 7*n_words
           |     OR max_len > 7 OR n_stop < 2 OR top_tok*5 > n_words}]) AS u
           | FROM m)
           |SELECT u.rule AS rule, COUNT(*)::BIGINT AS n_docs,
           | SUM(CASE WHEN u.fail THEN 1 ELSE 0 END)::BIGINT AS n_fail,
           | SUM(CASE WHEN u.fail THEN 1 ELSE 0 END)::BIGINT * 1000000 // COUNT(*)::BIGINT AS fail_ppm
           |FROM v GROUP BY u.rule ORDER BY rule""".stripMargin,
      "data_semantic_decontam" ->
        // replay the plant synthesis (shift-1 perturbation, the
        // dedup_semantic input formula) + brute-force raw-vector cosine
        // vs the 8 eval vectors, best match per contaminated train doc
        s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |ev AS (SELECT vec_id AS eval_id, vec AS evec FROM base WHERE vec_id < 8),
           |planted AS (SELECT vec_id + 100000 AS vec_id,
           |  list_transform(list_zip(vec, vec[2:64] || vec[1:1]), p -> p[1] + 0.05*p[2]) AS vec
           | FROM base WHERE vec_id < 8),
           |train AS (SELECT vec_id, vec FROM base WHERE vec_id >= 8
           |          UNION ALL SELECT vec_id, vec FROM planted),
           |scored AS (SELECT t.vec_id AS train_id, e.eval_id,
           |  ROUND(list_reduce(list_transform(list_zip(t.vec, e.evec), p -> p[1]*p[2]), (x,y) -> x+y)
           |    / (sqrt(list_reduce(list_transform(t.vec, x -> x*x), (x,y) -> x+y))
           |       * sqrt(list_reduce(list_transform(e.evec, x -> x*x), (x,y) -> x+y))), 6) AS cosine
           | FROM train t CROSS JOIN ev e),
           |hits AS (SELECT train_id, eval_id, cosine,
           |  ROW_NUMBER() OVER (PARTITION BY train_id ORDER BY cosine DESC, eval_id ASC) AS rk
           | FROM scored WHERE cosine >= 0.9)
           |SELECT train_id, eval_id, cosine FROM hits WHERE rk = 1
           |ORDER BY train_id""".stripMargin,
      "data_kcenter" ->
        s"""WITH base AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
           |  sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x), (x,y) -> x+y)) AS nrm
           | FROM embeddings),
           |$kcStages
           |SELECT * FROM (
           |  SELECT CAST(1 AS INT) AS step, (SELECT id FROM c1) AS center_id, ROUND((SELECT r FROM c1), 6) AS radius
           |${(2 to 8).map(t => s"  UNION ALL SELECT CAST($t AS INT), (SELECT id FROM c$t), ROUND((SELECT r FROM c$t), 6)").mkString("\n")}
           |) ORDER BY step""".stripMargin,
      "dedup_winnow_incremental" ->
        // replay the full sequential chain: winnowing selection (the
        // dedup_winnowing fragment) split into base/delta sides,
        // ≥2-shared-hash index drops (index wins), then keep-min
        // connected components over the remainder (the data_survivors
        // closure pattern)
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |g0 AS (SELECT doc_id, CASE WHEN len(tk) <= 4 THEN [array_to_string(tk, ' ')]
           |        ELSE list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')) END AS gs
           |       FROM t),
           |gp AS (SELECT doc_id, unnest(list_transform(range(1, len(gs) + 1),
           |        i -> {'p': i - 1, 's': gs[i]})) AS u FROM g0),
           |ge AS (SELECT doc_id, u.p AS pos,
           |        CAST(('0x' || substr(md5(u.s), 1, 10)) AS BIGINT) * 2097152
           |          + (2097151 - u.p) AS key FROM gp),
           |sel AS (SELECT doc_id, pos,
           |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
           |         count(*) OVER (PARTITION BY doc_id) AS n_g
           |        FROM ge),
           |fp AS MATERIALIZED (SELECT DISTINCT doc_id, sel // 2097152 AS fp_hash
           |       FROM sel WHERE pos <= greatest(n_g - 4, 0)),
           |dip AS (SELECT d.doc_id AS did, b.doc_id AS bid, COUNT(*) AS n
           |        FROM (SELECT * FROM fp WHERE doc_id % 3 = 0) d
           |        JOIN (SELECT * FROM fp WHERE doc_id % 3 <> 0) b USING (fp_hash)
           |        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |di AS (SELECT DISTINCT did AS doc_id FROM dip),
           |rem AS (SELECT doc_id FROM documents
           |        WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM di)),
           |rfp AS (SELECT fp.doc_id, fp.fp_hash FROM fp JOIN rem USING (doc_id)),
           |p AS MATERIALIZED (SELECT a.doc_id AS a, b.doc_id AS b
           |     FROM rfp a JOIN rfp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           |     GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
           |drops AS (SELECT id FROM lab WHERE cluster_id <> id)
           |SELECT d.doc_id,
           | CASE WHEN d.doc_id IN (SELECT doc_id FROM di) THEN 'dropped_index'
           |      WHEN d.doc_id IN (SELECT id FROM drops) THEN 'dropped_delta'
           |      ELSE 'survived' END AS verdict
           |FROM documents d WHERE d.doc_id % 3 = 0 ORDER BY d.doc_id""".stripMargin,
      "events_scd2_join" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
          |           FROM events WHERE user_id % 10 = 0),
          |h AS (SELECT MAX(ts_us) + 1 AS hz FROM e),
          |ch AS (SELECT user_id, event_type, ts_us, event_id,
          |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
          |       FROM e WHERE event_type <> 'purchase'),
          |iv AS (SELECT user_id, event_type AS state, ts_us AS valid_from,
          |        COALESCE(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
          |                 (SELECT hz FROM h)) AS valid_to
          |       FROM ch WHERE prev IS NULL OR prev <> event_type),
          |p AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase')
          |SELECT p.user_id, p.event_id, p.ts_us, iv.state, iv.valid_from AS state_since_us
          |FROM p JOIN iv ON p.user_id = iv.user_id
          | AND p.ts_us >= iv.valid_from AND p.ts_us < iv.valid_to
          |ORDER BY p.user_id, p.event_id""".stripMargin,
      "data_dup_weights" ->
        // jaccard pairs at the dedup_clusters parameters + reach closure
        // (the data_survivors pattern) + integer ppm weights
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
           |sz AS (SELECT cluster_id, COUNT(*)::BIGINT AS n FROM lab GROUP BY cluster_id)
           |SELECT d.doc_id,
           | COALESCE(lab.cluster_id, d.doc_id) AS cluster_id,
           | COALESCE(sz.n, 1)::BIGINT AS n_members,
           | 1000000 // COALESCE(sz.n, 1) AS weight_ppm
           |FROM documents d
           |LEFT JOIN lab ON lab.id = d.doc_id
           |LEFT JOIN sz ON sz.cluster_id = lab.cluster_id
           |ORDER BY d.doc_id""".stripMargin,
      "data_profile_drift" ->
        // conditional per-generation stats in one pass; means via the
        // decimal→VARCHAR→double convention, round 6; verdicts
        // cross-multiplied / on rounded means
        """WITH o AS (SELECT *, o_orderkey % 2 AS g,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          | FROM orders),
          |a AS (SELECT
          |  SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
          |  SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
          |  COUNT(DISTINCT CASE WHEN g = 0 THEN o_totalprice END)::BIGINT AS nda_tp,
          |  COUNT(DISTINCT CASE WHEN g = 1 THEN o_totalprice END)::BIGINT AS ndb_tp,
          |  ROUND(CAST(CAST(CAST(SUM(CASE WHEN g = 0 THEN cents END) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
          |    / SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) / 100.0, 6) AS ma_tp,
          |  ROUND(CAST(CAST(CAST(SUM(CASE WHEN g = 1 THEN cents END) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
          |    / SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) / 100.0, 6) AS mb_tp,
          |  COUNT(DISTINCT CASE WHEN g = 0 THEN o_custkey END)::BIGINT AS nda_ck,
          |  COUNT(DISTINCT CASE WHEN g = 1 THEN o_custkey END)::BIGINT AS ndb_ck,
          |  ROUND(CAST(CAST(CAST(SUM(CASE WHEN g = 0 THEN CAST(o_custkey AS BIGINT) * 100 END) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
          |    / SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) / 100.0, 6) AS ma_ck,
          |  ROUND(CAST(CAST(CAST(SUM(CASE WHEN g = 1 THEN CAST(o_custkey AS BIGINT) * 100 END) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
          |    / SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) / 100.0, 6) AS mb_ck,
          |  COUNT(DISTINCT CASE WHEN g = 0 THEN o_orderstatus END)::BIGINT AS nda_os,
          |  COUNT(DISTINCT CASE WHEN g = 1 THEN o_orderstatus END)::BIGINT AS ndb_os,
          |  COUNT(DISTINCT CASE WHEN g = 0 THEN o_orderpriority END)::BIGINT AS nda_op,
          |  COUNT(DISTINCT CASE WHEN g = 1 THEN o_orderpriority END)::BIGINT AS ndb_op
          | FROM o),
          |st AS (
          | SELECT 'o_totalprice' AS column_name, n_a, n_b, nda_tp AS nd_a, ndb_tp AS nd_b,
          |        ma_tp AS mean_a, mb_tp AS mean_b FROM a
          | UNION ALL SELECT 'o_custkey', n_a, n_b, nda_ck, ndb_ck, ma_ck, mb_ck FROM a
          | UNION ALL SELECT 'o_orderstatus', n_a, n_b, nda_os, ndb_os, NULL, NULL FROM a
          | UNION ALL SELECT 'o_orderpriority', n_a, n_b, nda_op, ndb_op, NULL, NULL FROM a)
          |SELECT column_name, n_a, n_b, nd_a, nd_b, mean_a, mean_b,
          | (abs(nd_b - nd_a) * 10 > nd_a
          |  OR abs(COALESCE(mean_b, 0.0) - COALESCE(mean_a, 0.0)) > 1.0) AS drift
          |FROM st ORDER BY column_name""".stripMargin,
      "q68_offset" ->
        // DOUBLE output (the q69/q70 DECIMAL-canonicalization lesson —
        // this row passed r11's hash by luck of its values; the Verify
        // tripwire flagged it round 12); the sort stays decimal-exact
        """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          |FROM orders
          |ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey
          |LIMIT 10 OFFSET 20""".stripMargin,
      "dedup_shared_spans" ->
        // replay winnowing selection WITH positions, the linked-pair
        // set (distinct shared hashes ≥ 2 — the dedup_winnowing
        // fragment), and per-diagonal position-pair stats; best
        // diagonal by (span, count, diag) — identical tie order
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |g0 AS (SELECT doc_id, CASE WHEN len(tk) <= 4 THEN [array_to_string(tk, ' ')]
           |        ELSE list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')) END AS gs
           |       FROM t),
           |gp AS (SELECT doc_id, unnest(list_transform(range(1, len(gs) + 1),
           |        i -> {'p': i - 1, 's': gs[i]})) AS u FROM g0),
           |ge AS (SELECT doc_id, u.p AS pos,
           |        CAST(('0x' || substr(md5(u.s), 1, 10)) AS BIGINT) * 2097152
           |          + (2097151 - u.p) AS key FROM gp),
           |sel AS (SELECT doc_id, pos,
           |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
           |         count(*) OVER (PARTITION BY doc_id) AS n_g
           |        FROM ge),
           |fp AS MATERIALIZED (SELECT DISTINCT doc_id,
           |        2097151 - (sel % 2097152) AS fp_pos, sel // 2097152 AS fp_hash
           |       FROM sel WHERE pos <= greatest(n_g - 4, 0)),
           |ns AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        COUNT(DISTINCT a.fp_hash)::BIGINT AS n_shared
           |       FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2 HAVING COUNT(DISTINCT a.fp_hash) >= 2),
           |dg AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.fp_pos - b.fp_pos AS diag,
           |        COUNT(*)::BIGINT AS diag_cnt,
           |        (MAX(a.fp_pos) - MIN(a.fp_pos) + 4)::BIGINT AS span_tokens
           |       FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2, 3),
           |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id, b_id
           |          ORDER BY span_tokens DESC, diag_cnt DESC, diag ASC) AS rk FROM dg)
           |SELECT ns.a_id, ns.b_id, ns.n_shared, best.diag, best.diag_cnt, best.span_tokens
           |FROM ns JOIN best ON ns.a_id = best.a_id AND ns.b_id = best.b_id AND best.rk = 1
           |ORDER BY ns.a_id, ns.b_id""".stripMargin,
      "vec_maxsim" ->
        // full MaxSim replay: per-(query-token, doc-group) max of
        // round-6 raw-vector cosines, decimal-exact per-query-doc sum
        // (the dsum VARCHAR convention), top-3 by score then group
        """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          |q AS (SELECT vec_id % 2 AS qid, vec_id AS tid, vec AS qv FROM base WHERE vec_id < 8),
          |d AS (SELECT vec_id % 50 AS grp, vec AS cv FROM base WHERE vec_id >= 8),
          |scored AS (SELECT qid, grp, tid,
          |  MAX(ROUND(list_reduce(list_transform(list_zip(cv, qv), p -> p[1]*p[2]), (x,y) -> x+y)
          |    / (sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y))
          |       * sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))), 6)) AS mx
          | FROM d CROSS JOIN q GROUP BY qid, grp, tid),
          |agg AS (SELECT qid, grp,
          |  CAST(CAST(CAST(SUM(CAST(mx AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS maxsim
          | FROM scored GROUP BY qid, grp),
          |r AS (SELECT qid, grp, maxsim,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY maxsim DESC, grp) AS INT) AS rank
          | FROM agg)
          |SELECT qid, rank, grp, maxsim FROM r WHERE rank <= 3
          |ORDER BY qid, rank""".stripMargin,
      "events_funnel_steps" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type FROM events),
          |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, MIN(e.ts_us) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
          |       WHERE e.event_type = 'click' AND e.ts_us >= s1.t1 GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, MIN(e.ts_us) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts_us >= s2.t2 GROUP BY e.user_id),
          |c AS (SELECT 1 AS step, 'view' AS event_type, COUNT(*)::BIGINT AS n_users FROM s1
          |      UNION ALL SELECT 2, 'click', COUNT(*)::BIGINT FROM s2
          |      UNION ALL SELECT 3, 'purchase', COUNT(*)::BIGINT FROM s3)
          |SELECT step, event_type, n_users,
          | n_users * 1000000 // (SELECT n_users FROM c WHERE step = 1) AS retention_ppm
          |FROM c ORDER BY step""".stripMargin,
      "data_weighted_exact_k" ->
        // Efraimidis–Spirakis via min-of-w md5 draws: no ln, no pow —
        // both engines rank identical fixed-length hex strings
        """WITH w AS (SELECT doc_id, CAST(1 + doc_id % 4 AS INT) AS weight FROM documents),
          |k AS (SELECT doc_id, weight,
          |  MIN(md5('wk10_' || doc_id || '_' || r)) AS key
          | FROM w CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rr
          | WHERE r < weight GROUP BY doc_id, weight),
          |top AS (SELECT * FROM k ORDER BY key LIMIT 60)
          |SELECT doc_id, weight, key FROM top ORDER BY doc_id""".stripMargin,
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus,
          | CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
          | CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_base_price,
          | CAST(CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
          | ROUND(CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)/COUNT(*), 4) AS avg_qty,
          | COUNT(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q2_pushdown" ->
        """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
          |WHERE l_quantity >= 48 AND l_discount >= 0.08 ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "q3_join_topn" ->
        s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, $revenue AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
      "q4_semijoin" ->
        """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q5_multijoin" ->
        s"""SELECT n_name, $revenue AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      "q6_selective_agg" ->
        """SELECT CAST(CAST(CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS revenue,
          | COUNT(*) AS n
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          | AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
      "q7_window" ->
        """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          | SELECT o_custkey, o_orderkey, o_totalprice,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
          | FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
      "q8_distinct" ->
        """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
          | COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q9_antijoin" ->
        """SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
      "q10_topk" ->
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
      "q11_having" ->
        """SELECT l_partkey, CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY l_partkey
          |HAVING CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) > 900
          |ORDER BY l_partkey""".stripMargin,
      "q12_case_agg" ->
        """SELECT l_linestatus,
          | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
          | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_count
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
      "q13_outerjoin_agg" ->
        """SELECT c_count, COUNT(*) AS custdist FROM (
          | SELECT c_custkey, COUNT(o_orderkey) AS c_count
          | FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          | GROUP BY c_custkey)
          |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
      "q14_union" ->
        """SELECT event_type, COUNT(*) AS n FROM (
          | SELECT * FROM events WHERE event_type IN ('click','purchase')
          | UNION ALL
          | SELECT * FROM events WHERE event_type IN ('signup','view'))
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q15_rollup" ->
        """SELECT l_returnflag, l_linestatus,
          | CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
          | COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
      "q16_pivot" ->
        """SELECT user_id % 10 AS cohort,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'click') AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS click,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'error') AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS error,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'purchase') AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS purchase,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'signup') AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS signup,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS view
          |FROM events GROUP BY cohort ORDER BY cohort""".stripMargin,
      "q17_subquery" ->
        """SELECT p_partkey, p_brand, p_retailprice FROM (
          | SELECT p_partkey, p_brand, p_retailprice,
          |  CAST(CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) OVER (PARTITION BY p_brand) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
          |   / COUNT(*) OVER (PARTITION BY p_brand) AS brand_avg
          | FROM part)
          |WHERE p_retailprice > brand_avg ORDER BY p_partkey""".stripMargin,
      "q20_approx" ->
        """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts_exact,
          | true AS parts_ok, true AS p50_ok
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "ann_lsh" ->
        "SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok",
      "ann_ivf" ->
        "SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok",
      "ann_ivfpq" ->
        "SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok",
      "ann_ivf_index" ->
        "SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok",
      "ann_ivfpq_index" ->
        "SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok",
      "pipeline_json_roundtrip" ->
        """SELECT COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
          | CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS price_sum
          |FROM orders""".stripMargin,
      "dedup_review_sample" ->
        s"""WITH p AS (${jaccardPairsSql(3, 0.8)}),
           |b AS (SELECT floor(jaccard * 10) / 10 AS band, a_id, b_id, jaccard,
           |  md5(CAST(a_id AS VARCHAR) || ':' || CAST(b_id AS VARCHAR)) AS pick FROM p),
           |r AS (SELECT band, a_id, b_id, jaccard,
           |  row_number() OVER (PARTITION BY band ORDER BY pick) AS rk FROM b)
           |SELECT band, a_id, b_id, jaccard FROM r WHERE rk <= 2
           |ORDER BY band, a_id, b_id""".stripMargin,
      "data_ablation" ->
        s"""WITH per AS (SELECT source, COUNT(*) AS n, SUM(n_chars) AS chars,
           |  SUM(len(list_filter($toks, t -> t <> ''))) AS toks
           |  FROM documents GROUP BY source),
           |g AS (SELECT SUM(n) AS gn, SUM(chars) AS gchars, SUM(toks) AS gtoks FROM per)
           |SELECT source, n,
           | CAST(toks AS DOUBLE) / CAST(n AS DOUBLE) AS mean_tokens,
           | CAST(gtoks - toks AS DOUBLE) / CAST(gn - n AS DOUBLE) AS mean_tokens_without,
           | CAST(gchars - chars AS DOUBLE) / CAST(gn - n AS DOUBLE) AS mean_chars_without
           |FROM per, g ORDER BY source""".stripMargin,
      "events_ab_srm" ->
        """WITH e AS (SELECT CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
          |    THEN 'A' ELSE 'B' END AS arm FROM events),
          |m AS (SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          |             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM e)
          |SELECT n_a, n_b,
          | CAST(abs(n_a - n_b) AS DOUBLE) <= 4.0 * sqrt(CAST(n_a + n_b AS DOUBLE)) AS srm_ok
          |FROM m""".stripMargin,
      "dedup_lsh_tuner" ->
        """WITH g AS (SELECT b.range AS b, r.range AS r FROM range(1, 17) b, range(1, 9) r
          |           WHERE b.range * r.range <= 64),
          |p AS (SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r, CAST(b * r AS INT) AS k,
          |  1.0 - list_reduce(list_transform(range(1, b + 1), i ->
          |    1.0 - list_reduce(list_transform(range(1, r + 1), j -> 6.0e-1), (x, y) -> x * y)),
          |    (x, y) -> x * y) AS p_low,
          |  1.0 - list_reduce(list_transform(range(1, b + 1), i ->
          |    1.0 - list_reduce(list_transform(range(1, r + 1), j -> 9.0e-1), (x, y) -> x * y)),
          |    (x, y) -> x * y) AS p_high
          |  FROM g),
          |f AS (SELECT *, p_high >= 0.95 AND p_low <= 0.2 AS feasible FROM p),
          |c AS (SELECT *, feasible AND row_number() OVER (
          |        ORDER BY CAST(NOT feasible AS INT), k, p_high DESC, b) = 1 AS chosen FROM f)
          |SELECT b, r, k, p_low, p_high, feasible, chosen FROM c ORDER BY b, r""".stripMargin,
      "q48_cohort_ltv" ->
        """WITH o AS (SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS m,
          |  CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
          |c AS (SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY 1),
          |cells AS (SELECT cohort_m, m - cohort_m AS age, CAST(SUM(v) AS DECIMAL(38,2)) AS rev
          |          FROM o JOIN c USING (o_custkey) GROUP BY 1, 2),
          |x AS (SELECT cohort_m, age, rev,
          |      CAST(SUM(rev) OVER (PARTITION BY cohort_m ORDER BY age
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS cum
          |      FROM cells)
          |SELECT cohort_m, age, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev,
          | CAST(CAST(cum AS VARCHAR) AS DOUBLE) AS cum_rev
          |FROM x ORDER BY cohort_m, age""".stripMargin,
      "q49_otif" ->
        s"""SELECT l_suppkey, COUNT(*) AS n_lines,
           | CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END) AS DOUBLE)
           |  / CAST(COUNT(*) AS DOUBLE) AS otif,
           | $revenue AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
      "dedup_tf_cosine" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |tk AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(${shingles("tk", 3)})) AS g FROM tk),
           |dfx AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g),
           |p AS (SELECT sh.g, sh.doc_id FROM sh JOIN dfx USING (g) WHERE dfx.df <= 20),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |         FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id),
           |dot AS (SELECT c.a_id, c.b_id, CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot
           |        FROM cand c JOIN f x ON x.doc_id = c.a_id
           |        JOIN f y ON y.doc_id = c.b_id AND y.token = x.token
           |        GROUP BY c.a_id, c.b_id),
           |n2 AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM f GROUP BY doc_id)
           |SELECT a_id, b_id,
           | CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
           |FROM dot JOIN n2 na ON na.doc_id = a_id JOIN n2 nb ON nb.doc_id = b_id
           |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.9
           |ORDER BY a_id, b_id""".stripMargin,
      "data_dataset_card" ->
        s"""WITH m AS (SELECT COUNT(*) AS n, SUM(n_chars) AS chars,
           |  COUNT(DISTINCT md5($norm)) AS n_uniq,
           |  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
           |  SUM(len(list_filter($toks, t -> t <> ''))) AS toks
           |  FROM documents)
           |SELECT * FROM (
           |  SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM m
           |  UNION ALL SELECT 'total_chars', CAST(chars AS DOUBLE) FROM m
           |  UNION ALL SELECT 'exact_dup_rate', CAST(n - n_uniq AS DOUBLE) / CAST(n AS DOUBLE) FROM m
           |  UNION ALL SELECT 'share_en', CAST(n_en AS DOUBLE) / CAST(n AS DOUBLE) FROM m
           |  UNION ALL SELECT 'mean_tokens', CAST(toks AS DOUBLE) / CAST(n AS DOUBLE) FROM m)
           |ORDER BY metric""".stripMargin,
      "events_forecast_baseline" ->
        """WITH daily AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS BIGINT) AS cents
          |  FROM events GROUP BY 1, 2),
          |j AS (SELECT a.event_type, a.cents, b.cents AS pred
          |      FROM daily a JOIN daily b
          |      ON a.event_type = b.event_type AND a.day = b.day + 7)
          |SELECT event_type, COUNT(*) AS n_days,
          | CAST(SUM(abs(cents - pred)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS mae,
          | CAST(SUM(cents - pred) AS BIGINT) AS bias_cents
          |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,
      "text_rake" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS tk FROM documents),
           |tok AS (SELECT doc_id, tk[CAST(i AS INT)] AS tok, i AS pos
           |        FROM tk, unnest(range(1, len(tk) + 1)) AS r(i)
           |        WHERE tk[CAST(i AS INT)] <> ''),
           |tagged AS (SELECT doc_id, tok, pos, list_contains($stopAll, tok) AS is_stop FROM tok),
           |g AS (SELECT doc_id, tok, pos, is_stop,
           |      SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
           |      FROM tagged),
           |ph AS (SELECT doc_id, gid, string_agg(tok, ' ' ORDER BY pos) AS phrase,
           |       COUNT(*) AS plen, list(tok ORDER BY pos) AS words
           |       FROM g WHERE NOT is_stop GROUP BY doc_id, gid HAVING COUNT(*) >= 2),
           |ws AS (SELECT w AS word, COUNT(*) AS freq, SUM(plen) AS degree
           |       FROM (SELECT unnest(words) AS w, plen FROM ph) GROUP BY w),
           |pw AS (SELECT doc_id, phrase, unnest(words) AS word FROM ph),
           |sc AS (SELECT phrase, COUNT(DISTINCT doc_id) AS n_docs,
           |       CAST(SUM(degree) AS DOUBLE) / CAST(SUM(freq) AS DOUBLE) AS score
           |       FROM pw JOIN ws ON pw.word = ws.word GROUP BY phrase)
           |SELECT phrase, n_docs, score FROM sc ORDER BY score DESC, phrase LIMIT 20""".stripMargin,
      "events_ab_test" ->
        """WITH e AS (SELECT CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
          |    THEN 'A' ELSE 'B' END AS arm, CAST(value AS DECIMAL(18,2)) AS v FROM events),
          |m AS (SELECT arm, COUNT(*) AS n,
          |  CAST(CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sx,
          |  CAST(CAST(CAST(SUM(CAST(v * v AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxx
          |  FROM e GROUP BY arm),
          |x AS (SELECT arm, n, sx / n AS mean, (sxx - sx * sx / n) / (n - 1) / n AS se2 FROM m)
          |SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
          | (a.mean - b.mean) / sqrt(a.se2 + b.se2) AS t_welch
          |FROM x a, x b WHERE a.arm = 'A' AND b.arm = 'B'""".stripMargin,
      "write_bin_packing" ->
        """WITH s AS (SELECT l_orderkey AS key, SUM(96 + length(l_returnflag)) AS bytes
          |           FROM lineitem GROUP BY 1),
          |c AS (SELECT key, bytes,
          |  COALESCE(SUM(bytes) OVER (ORDER BY key ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS cum_before FROM s)
          |SELECT CAST(cum_before // 524288 AS INT) AS bin, COUNT(*) AS n_keys,
          | CAST(SUM(bytes) AS BIGINT) AS bin_bytes
          |FROM c GROUP BY 1 ORDER BY bin""".stripMargin,
      "ann_pq_adc" ->
        "SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok",
      "q19_percentile" ->
        """SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS p50,
          | quantile_cont(o_totalprice, 0.9) AS p90
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "asof_join" ->
        """SELECT o_orderkey, epoch_us(MAX(l_shipdate)) AS asof_us
          |FROM orders LEFT JOIN lineitem
          | ON l_orderkey = o_orderkey AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
          |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
      "asof_join_fwd" ->
        """SELECT o_orderkey, epoch_us(MIN(l_shipdate)) AS asof_us
          |FROM orders LEFT JOIN lineitem
          | ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
          |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
      "asof_join_tol" ->
        """SELECT o_orderkey, epoch_us(MAX(l_shipdate)) AS asof_us
          |FROM orders LEFT JOIN lineitem
          | ON l_orderkey = o_orderkey
          | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
          | AND l_shipdate >= o_orderdate + INTERVAL 90 DAY - INTERVAL 30 DAY
          |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
      "asof_join_nearest" ->
        """WITH b AS (SELECT o_orderkey, MAX(l_shipdate) AS bt
          |           FROM orders LEFT JOIN lineitem
          |            ON l_orderkey = o_orderkey AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
          |           GROUP BY o_orderkey),
          |f AS (SELECT o_orderkey, MIN(l_shipdate) AS ft
          |      FROM orders LEFT JOIN lineitem
          |       ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
          |      GROUP BY o_orderkey),
          |j AS (SELECT o.o_orderkey, o.o_orderdate + INTERVAL 60 DAY AS cutoff, b.bt, f.ft
          |      FROM orders o JOIN b USING (o_orderkey) JOIN f USING (o_orderkey))
          |SELECT o_orderkey,
          | epoch_us(CASE WHEN ft IS NULL THEN bt
          |               WHEN bt IS NULL THEN ft
          |               WHEN cutoff - bt <= ft - cutoff THEN bt ELSE ft END) AS asof_us
          |FROM j ORDER BY o_orderkey""".stripMargin,
      "events_retention" ->
        """WITH uw AS (SELECT DISTINCT user_id,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week FROM events),
          |c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
          |sz AS (SELECT cohort_week, COUNT(*) AS n_cohort FROM c GROUP BY cohort_week),
          |act AS (SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset, COUNT(*) AS n_active
          |        FROM uw JOIN c USING (user_id) GROUP BY c.cohort_week, week_offset)
          |SELECT cohort_week, week_offset, n_active, n_cohort,
          | CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention
          |FROM act JOIN sz USING (cohort_week)
          |ORDER BY cohort_week, week_offset""".stripMargin,
      "events_sessionize" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          |w AS (SELECT user_id, us,
          |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
          |        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000 THEN 1 ELSE 0 END AS ns
          | FROM e),
          |s AS (SELECT user_id, us,
          |  CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          | FROM w)
          |SELECT user_id, session_idx, COUNT(*) AS n_events, MIN(us) AS start_us, MAX(us) AS end_us
          |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
      "events_range_join_rule" ->
        """WITH iv AS (SELECT i AS interval_id,
          |  1704067200000000 + i*50400000000 AS s_us,
          |  1704067200000000 + i*50400000000 + 75600000000 AS e_us
          | FROM range(50) t(i)),
          |ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events)
          |SELECT interval_id, COUNT(*) AS n_events,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |FROM iv JOIN ev ON ts_us >= s_us AND ts_us < e_us
          |GROUP BY interval_id ORDER BY interval_id""".stripMargin,
      "events_range_join" ->
        """WITH iv AS (SELECT i AS interval_id,
          |  1704067200000000 + i*50400000000 AS s_us,
          |  1704067200000000 + i*50400000000 + 75600000000 AS e_us
          | FROM range(50) t(i)),
          |ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events)
          |SELECT interval_id, COUNT(*) AS n_events,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |FROM iv JOIN ev ON ts_us >= s_us AND ts_us < e_us
          |GROUP BY interval_id ORDER BY interval_id""".stripMargin,
      "events_window_agg" ->
        """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us, COUNT(*) AS n_events,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |FROM events GROUP BY hour_us ORDER BY hour_us""".stripMargin,
      "events_json" ->
        """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k, COUNT(*) AS n
          |FROM events GROUP BY k ORDER BY k""".stripMargin,
      "events_stream_join_twin" ->
        """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
          |  FROM events WHERE event_type = 'click'),
          |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
          |  FROM events WHERE event_type = 'purchase')
          |SELECT c.user_id AS user_id, click_id, purchase_id, click_us, purchase_us
          |FROM c JOIN p ON c.user_id = p.user_id
          | AND purchase_us >= click_us AND purchase_us <= click_us + 3600000000
          |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,
      "pipeline_sql" ->
        """SELECT b, CAST(SUM(a) AS BIGINT) AS sum_a
          |FROM (VALUES (1,'x'),(2,'y'),(3,'x')) t(a,b) GROUP BY b ORDER BY b""".stripMargin,
      "pipeline_values" ->
        """SELECT * FROM (VALUES (1,'ada',9.5),(2,'bob',7.25)) t(id, name, score) ORDER BY id""",
      "pipeline_sql_file" ->
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
      "pipeline_identity" -> "SELECT * FROM region ORDER BY r_regionkey",
      "pipeline_csv_roundtrip" -> "SELECT * FROM region ORDER BY r_regionkey",
      "flatten_struct" ->
        """SELECT event_id, event_type AS ev_event_type, value AS ev_value, user_id AS ev_u_user_id
          |FROM events ORDER BY event_id""".stripMargin,
      "flatten_explode" ->
        s"""SELECT token, COUNT(*) AS n FROM (SELECT unnest($toks) AS token FROM documents)
           |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
      "diff_tables" ->
        """WITH r AS (
          | SELECT CASE WHEN o_orderkey % 500 = 0 THEN o_orderkey + 1000000 ELSE o_orderkey END AS o_orderkey,
          |  o_custkey, o_orderstatus,
          |  CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 10 ELSE o_totalprice END AS o_totalprice,
          |  o_orderdate, o_orderpriority
          | FROM orders WHERE o_orderkey % 97 <> 0),
          |d AS (
          | SELECT CASE WHEN r.o_orderkey IS NULL THEN 'D' WHEN l.o_orderkey IS NULL THEN 'I'
          |   WHEN (l.o_custkey IS DISTINCT FROM r.o_custkey) OR (l.o_orderstatus IS DISTINCT FROM r.o_orderstatus)
          |     OR (l.o_totalprice IS DISTINCT FROM r.o_totalprice) OR (l.o_orderdate IS DISTINCT FROM r.o_orderdate)
          |     OR (l.o_orderpriority IS DISTINCT FROM r.o_orderpriority) THEN 'C' ELSE 'N' END AS diff,
          |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
          |  l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice
          | FROM orders l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey)
          |SELECT diff, o_orderkey, left_o_totalprice, right_o_totalprice FROM d
          |WHERE diff <> 'N' ORDER BY o_orderkey, diff""".stripMargin,
      "merge_upsert" ->
        """WITH upd AS (
          | SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10 AS o_totalprice,
          |        o_orderdate, o_orderpriority, o_orderkey % 97 = 0 AS del
          | FROM orders WHERE o_orderkey % 100 = 0 OR o_orderkey % 97 = 0
          | UNION ALL
          | SELECT o_orderkey + 2000000, o_custkey, o_orderstatus, o_totalprice,
          |        o_orderdate, o_orderpriority, false
          | FROM orders WHERE o_orderkey % 500 = 0),
          |merged AS (
          | SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd WHERE NOT del
          | UNION ALL
          | SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice FROM orders b
          | WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM upd))
          |SELECT o_orderstatus, COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_price
          |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "dedup_exact" ->
        s"""WITH doubled AS (
           | SELECT doc_id, text FROM documents
           | UNION ALL SELECT doc_id + 1000000, text FROM documents)
           |SELECT md5($norm) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
           |FROM doubled GROUP BY content_hash ORDER BY keep_id""".stripMargin,
      "dedup_minhash" -> jaccardPairsSql(n = 2, threshold = 0.7),
      // the incremental probe returns exactly the quadratic pair set
      // restricted to pairs touching at least one NEW doc (doc_id%4=0)
      "dedup_incremental" -> jaccardPairsSql(n = 2, threshold = 0.7,
        extraWhere = "AND (a_id % 4 = 0 OR b_id % 4 = 0)"),
      // two-generation run: pairs touching day1 (%4=3) or day2 (%4=0) —
      // day1 pairs come from the pre-append probe, day2 pairs see
      // base∪day1 through the appended index
      "dedup_incremental_2day" -> jaccardPairsSql(n = 2, threshold = 0.7,
        extraWhere = "AND (a_id % 4 IN (0, 3) OR b_id % 4 IN (0, 3))"),
      "dedup_simhash_check" ->
        s"""WITH doubled AS (
           | SELECT doc_id, text FROM documents
           | UNION ALL SELECT doc_id + 1000000, text FROM documents),
           |g AS (SELECT md5($norm) AS h, COUNT(*) AS m FROM doubled GROUP BY h)
           |SELECT CAST(SUM((m*(m-1))//2) AS BIGINT) AS n_exact_pairs, true AS all_covered FROM g""".stripMargin,
      "q61_recursive_cte" ->
        """WITH RECURSIVE anc(node, anc, depth) AS (
          |  SELECT c_custkey, c_custkey // 10, 1 FROM customer
          |  UNION ALL
          |  SELECT node, anc // 10, depth + 1 FROM anc WHERE anc > 0
          |)
          |SELECT node, count(*) AS n_ancestors, max(depth) AS chain_len
          |FROM anc GROUP BY node ORDER BY node""".stripMargin,
      "q62_sql_udf" ->
        // Spark side computes through a SQL scalar UDF that Catalyst
        // inlines; the twin IS the inlined expression
        """SELECT l_returnflag,
          | CAST(CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS disc_revenue,
          | COUNT(*) AS n
          |FROM lineitem
          |WHERE CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6)) > 1000
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q63_pipe_syntax" ->
        // Spark side uses 4.x |> pipe operators; same plan as this SQL
        """WITH agg AS (
          | SELECT o_orderpriority,
          |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total,
          |   COUNT(*) AS n_orders
          | FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority)
          |SELECT o_orderpriority, CAST(CAST(total AS VARCHAR) AS DOUBLE) AS total, n_orders
          |FROM agg WHERE n_orders > 10 ORDER BY o_orderpriority""".stripMargin,
      "q64_trimmed_mean" ->
        """WITH v AS (SELECT l_returnflag, CAST(CAST(l_extendedprice AS DECIMAL(18,2))*100 AS BIGINT) AS cents,
          |                  l_orderkey, l_linenumber FROM lineitem),
          |r AS (SELECT l_returnflag, cents,
          |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents, l_orderkey, l_linenumber) AS rk,
          |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n_g
          | FROM v)
          |SELECT l_returnflag, COUNT(*) AS n_kept, CAST(SUM(cents) AS BIGINT) AS sum_cents,
          | CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean_cents
          |FROM r WHERE rk > n_g // 10 AND rk <= n_g - n_g // 10
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q65_spearman" ->
        // average ranks: 2*avgrank = 2*RANK (min rank) + ties - 1, kept
        // integer; moment sums in DECIMAL(38,0); fixed double combine
        // mirrors StatsOps.spearmanByGroup token for token
        """WITH v AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
          |                  CAST(CAST(l_extendedprice AS DECIMAL(18,2))*100 AS BIGINT) AS y FROM lineitem),
          |r AS (SELECT g,
          |  CAST(2*RANK() OVER (PARTITION BY g ORDER BY x) + COUNT(*) OVER (PARTITION BY g, x) - 1 AS DECIMAL(19,0)) AS a,
          |  CAST(2*RANK() OVER (PARTITION BY g ORDER BY y) + COUNT(*) OVER (PARTITION BY g, y) - 1 AS DECIMAL(19,0)) AS b
          | FROM v),
          |m AS (SELECT g, COUNT(*) AS n,
          |  CAST(CAST(CAST(SUM(a) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sa,
          |  CAST(CAST(CAST(SUM(b) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sb,
          |  CAST(CAST(CAST(SUM(CAST(a*a AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS saa,
          |  CAST(CAST(CAST(SUM(CAST(b*b AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sbb,
          |  CAST(CAST(CAST(SUM(CAST(a*b AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sab
          | FROM r GROUP BY g)
          |SELECT g AS l_returnflag, n,
          | (CAST(n AS DOUBLE)*sab - sa*sb) /
          |  (sqrt(CAST(n AS DOUBLE)*saa - sa*sa) * sqrt(CAST(n AS DOUBLE)*sbb - sb*sb)) AS spearman_rho
          |FROM m ORDER BY l_returnflag""".stripMargin,
      "q66_jaro_winkler" ->
        // DuckDB's native jaro_winkler_similarity — semantics verified
        // equal to StringSimKernel's exact rational (window, floor'd
        // half-transpositions, prefix ≤ 4, 0.7 boost threshold)
        """SELECT a.p_brand, a.p_partkey AS p1, b.p_partkey AS p2,
          | round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS similarity
          |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
          |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
          |ORDER BY a.p_brand, a.p_partkey, b.p_partkey""".stripMargin,
      "graph_kcore_check" ->
        // invariants-as-data (the pagerank_check pattern): peeling to
        // fixpoint is not expressible in a recursive CTE, but the
        // k-core's DEFINING properties are checked Spark-side against
        // the raw edges and must all come back true
        """SELECT 3 AS k, true AS nonempty, true AS core_min_deg_ok,
          | true AS maximality_ok, true AS deg_consistent_ok""".stripMargin,
      "text_bigram_surprisal" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |bg AS (SELECT doc_id, unnest(${shingles("tk", 2)}) AS bigram FROM t),
           |b2 AS (SELECT doc_id, bigram FROM bg WHERE bigram <> ''),
           |cf AS (SELECT bigram, COUNT(*) AS cf FROM b2 GROUP BY bigram)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           | CAST(SUM(cf) AS BIGINT) AS sum_cf,
           | CAST(SUM(cf) AS DOUBLE) / COUNT(*) AS familiarity
           |FROM b2 JOIN cf USING (bigram) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "events_rate_limit" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
          |           FROM events),
          |l AS (SELECT user_id, COUNT(*) AS n_events,
          |  list_reduce(
          |    list_prepend([50000000, 0, 0]::BIGINT[],
          |      list_transform(list(us ORDER BY us, event_id), x -> [x, 0, 0]::BIGINT[])),
          |    (a, e) -> [
          |      CASE WHEN least(50000000, a[1] + (e[1] - a[2])) >= 10000000
          |           THEN least(50000000, a[1] + (e[1] - a[2])) - 10000000
          |           ELSE least(50000000, a[1] + (e[1] - a[2])) END,
          |      e[1],
          |      a[3] + CASE WHEN least(50000000, a[1] + (e[1] - a[2])) >= 10000000
          |             THEN 1 ELSE 0 END]) AS st
          |  FROM e GROUP BY user_id)
          |SELECT user_id, CAST(n_events AS BIGINT) AS n_events, st[3] AS n_admitted,
          | CAST(n_events - st[3] AS BIGINT) AS n_throttled
          |FROM l ORDER BY user_id""".stripMargin,
      "q60_runtime_filter_check" ->
        s"""SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
           | COUNT(*) AS n_items, $revenue AS revenue, true AS plan_filtered
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE o_orderpriority = '1-URGENT'
           |GROUP BY 1 ORDER BY month""".stripMargin,
      "data_stratified_exact_k" ->
        """WITH p AS (SELECT doc_id, lang, md5('sek:' || CAST(doc_id AS VARCHAR)) AS pick
          |           FROM documents),
          |r AS (SELECT doc_id, lang,
          |      row_number() OVER (PARTITION BY lang ORDER BY pick, doc_id) AS rk FROM p)
          |SELECT doc_id, lang FROM r WHERE rk <= 40 ORDER BY doc_id""".stripMargin,
      "synth_agg_pushdown_check" ->
        """SELECT CAST(t.range AS INT) AS bucket, true AS count_ok, true AS min_ok,
          | true AS max_ok, true AS plan_pushed
          |FROM range(-1, 32) t ORDER BY bucket""".stripMargin,
      "dedup_simhash" ->
        // The XXH64-based signature itself is not portable to DuckDB, but
        // the banded pair GENERATION is verifiable against it: 4×16-bit
        // chunk banding is recall-complete for hamming ≤ 3 (pigeonhole),
        // so the query's output must be EXACTLY the quadratic
        // bit_count(xor) ≤ 3 pair set over the (id, sig) dump that
        // Verify writes alongside the results (__GRAFT_OUT__ is
        // substituted with the absolute out dir at dump time).
        """WITH s AS (SELECT id, sig
          |           FROM read_parquet('__GRAFT_OUT__/_aux_simhash_sigs/*.parquet'))
          |SELECT a.id AS a_id, b.id AS b_id,
          | CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
          |FROM s a JOIN s b ON a.id < b.id
          |WHERE bit_count(xor(a.sig, b.sig)) <= 3
          |ORDER BY a_id, b_id""".stripMargin,
      // The three _aux_* dumps are oracle INPUTS (Verify writes them next
      // to the query results; the dedup_simhash / dedup_semantic* oracles
      // above read them back). The driver scans every dump dir as a query,
      // so each gets an IDENTITY oracle — both sides read the same file —
      // making the artifact green instead of `no_oracle`/lexsort red rows
      // (round-9 verdict item 1). `unit` is dumped as a JSON string for
      // pandas sortability; consumers CAST it back to DOUBLE[].
      "_aux_simhash_sigs" ->
        """SELECT id, sig
          |FROM read_parquet('__GRAFT_OUT__/_aux_simhash_sigs/*.parquet')
          |ORDER BY id""".stripMargin,
      "_aux_semantic_cells" ->
        """SELECT id, cell, cent_sim, unit
          |FROM read_parquet('__GRAFT_OUT__/_aux_semantic_cells/*.parquet')
          |ORDER BY id""".stripMargin,
      "_aux_semantic_incr_cells" ->
        """SELECT side, id, cell, cent_sim, unit
          |FROM read_parquet('__GRAFT_OUT__/_aux_semantic_incr_cells/*.parquet')
          |ORDER BY side, id""".stripMargin,
      "_aux_ivfpq_drift_cells" ->
        """SELECT side, id, cell, cent_sim, qerr
          |FROM read_parquet('__GRAFT_OUT__/_aux_ivfpq_drift_cells/*.parquet')
          |ORDER BY side, id""".stripMargin,
      "ann_ivfpq_drift" ->
        // the IVF-PQ drift report replayed over the side-tagged cells
        // dump: decimal-exact mean cent_sims and qerrs, integer-exact
        // occupancy L1 in ppm, the pinned two-division qerr ratio,
        // literal thresholds (the dedup_semantic_drift convention + the
        // PQ-specific codebook-staleness signal)
        """WITH cl AS (SELECT side, cell, cent_sim, qerr
          |            FROM read_parquet('__GRAFT_OUT__/_aux_ivfpq_drift_cells/*.parquet')),
          |occ AS (SELECT cell,
          |  SUM(CASE WHEN side = 'base' THEN 1 ELSE 0 END)::BIGINT AS n_b,
          |  SUM(CASE WHEN side = 'delta' THEN 1 ELSE 0 END)::BIGINT AS n_d
          | FROM cl GROUP BY cell),
          |tot AS (SELECT
          |  SUM(CASE WHEN side = 'base' THEN 1 ELSE 0 END)::BIGINT AS n_base,
          |  SUM(CASE WHEN side = 'delta' THEN 1 ELSE 0 END)::BIGINT AS n_delta,
          |  CAST(CAST(CAST(SUM(CASE WHEN side = 'base' THEN CAST(cent_sim AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_sim_b,
          |  CAST(CAST(CAST(SUM(CASE WHEN side = 'delta' THEN CAST(cent_sim AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_sim_d,
          |  CAST(CAST(CAST(SUM(CASE WHEN side = 'base' THEN CAST(qerr AS DECIMAL(18,9)) END) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS sum_qerr_b,
          |  CAST(CAST(CAST(SUM(CASE WHEN side = 'delta' THEN CAST(qerr AS DECIMAL(18,9)) END) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS sum_qerr_d
          | FROM cl),
          |l1 AS (SELECT SUM(ABS(CAST(n_b AS HUGEINT) * n_delta
          |                       - CAST(n_d AS HUGEINT) * n_base)) AS l1_num
          |       FROM occ, tot)
          |SELECT n_base, n_delta,
          | ROUND(sum_sim_b / n_base, 9) AS base_mean_sim,
          | ROUND(sum_sim_d / n_delta, 9) AS delta_mean_sim,
          | ROUND(sum_sim_b / n_base - sum_sim_d / n_delta, 9) AS sim_drift,
          | CAST(l1_num * 1000000 // (2 * CAST(n_base AS HUGEINT) * n_delta) AS BIGINT) AS occ_l1_ppm,
          | ROUND(sum_qerr_b / n_base, 9) AS base_mean_qerr,
          | ROUND(sum_qerr_d / n_delta, 9) AS delta_mean_qerr,
          | ROUND((sum_qerr_d / n_delta) / (sum_qerr_b / n_base), 6) AS qerr_ratio,
          | (ABS(ROUND(sum_sim_b / n_base - sum_sim_d / n_delta, 9)) > 0.005
          |  OR l1_num * 1000000 // (2 * CAST(n_base AS HUGEINT) * n_delta) > 100000
          |  OR ROUND((sum_qerr_d / n_delta) / (sum_qerr_b / n_base), 6) > 1.5) AS rebuild
          |FROM tot, l1""".stripMargin,
      "graph_pagerank_check" ->
        """WITH e AS (SELECT DISTINCT c_custkey % 25 AS src, CAST(c_nationkey AS BIGINT) AS dst
          |           FROM customer WHERE c_custkey % 25 <> c_nationkey),
          |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e)
          |SELECT (SELECT COUNT(*) FROM n) AS n_nodes,
          | true AS all_positive, true AS mass_bounded, true AS replay_stable""".stripMargin,
      "write_metrics_check" ->
        """SELECT COUNT(*) AS n_rows,
          | CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_price
          |FROM orders""".stripMargin,
      "write_compact_check" ->
        """SELECT CAST(3 AS BIGINT) AS n_files,
          | (SELECT COUNT(*) FROM orders) AS n_rows, true AS within_cap""".stripMargin,
      "write_zorder_check" ->
        """SELECT CAST(4 AS BIGINT) AS n_files, true AS ranges_disjoint,
          | (SELECT COUNT(*) FROM part) AS n_rows""".stripMargin,
      "write_zorder_skipping" ->
        // invariants-as-data (the zorder_check pattern): the pruning
        // booleans are the claim — z-order skips files on point queries
        // AND on the second dimension alone, while the single-sort
        // layout must touch every file for second-dimension probes
        """SELECT CAST(8 AS BIGINT) AS n_files_z,
          | CAST(8 AS BIGINT) AS n_files_sorted,
          | (SELECT COUNT(*) FROM part) AS n_rows,
          | true AS z_point_prunes, true AS z_zb_prunes,
          | true AS sorted_zb_touches_all,
          | true AS zorder_wins_second_dim""".stripMargin,
      "vec_meanpool" ->
        """WITH pe AS (SELECT vec_id % 50 AS grp,
          |  generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS x
          |  FROM embeddings),
          |m AS (SELECT grp, pos, COUNT(*) AS n,
          |  CAST(CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE) AS sx
          |  FROM pe GROUP BY grp, pos)
          |SELECT grp, COUNT(*) AS dim, MAX(n) AS n_chunks,
          | MAX(CASE WHEN pos = 0 THEN sx / CAST(n AS DOUBLE) END) AS v0,
          | MAX(CASE WHEN pos = 31 THEN sx / CAST(n AS DOUBLE) END) AS v31
          |FROM m GROUP BY grp ORDER BY grp""".stripMargin,
      "data_packing" ->
        s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok,
           |  CAST(strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) - 1 AS INT) AS shard
           |  FROM documents),
           |c AS (SELECT doc_id, shard, n_tok,
           |  CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
           |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
           |  FROM t),
           |p AS (SELECT doc_id, shard, n_tok, end_off - n_tok AS start_off,
           |  (end_off - n_tok) // 512 AS first_win,
           |  CASE WHEN n_tok = 0 THEN (end_off - n_tok) // 512 ELSE (end_off - 1) // 512 END AS last_win
           |  FROM c)
           |SELECT doc_id, shard, n_tok, start_off, first_win, last_win,
           | last_win - first_win + 1 AS n_windows
           |FROM p ORDER BY doc_id""".stripMargin,
      "data_shuffle" ->
        """SELECT doc_id,
          | ROW_NUMBER() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
          |FROM documents ORDER BY pos""".stripMargin,
      "data_shuffle_check" ->
        """SELECT CAST(CEIL(COUNT(*) / 1000.0) AS BIGINT) AS n_files, COUNT(*) AS n_rows,
          | true AS within_cap, true AS ranges_contiguous, true AS one_file_per_chunk
          |FROM documents""".stripMargin,
      "data_export_manifest_check" ->
        """SELECT CAST(CEIL(COUNT(*) / 1000.0) AS BIGINT) AS n_files, COUNT(*) AS n_rows,
          | true AS manifest_matches, true AS committed
          |FROM documents""".stripMargin,
      "text_postings" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |g AS (SELECT DISTINCT doc_id, gram FROM
           |  (SELECT doc_id, unnest(${shingles("tk", 3)}) AS gram FROM t) WHERE gram <> ''),
           |r AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram HAVING COUNT(*) <= 2)
           |SELECT gram, df,
           | array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
           |FROM g JOIN r USING (gram)
           |GROUP BY gram, df ORDER BY gram""".stripMargin,
      "q34_unpivot" ->
        """WITH b AS (SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
          |  CAST(l_quantity AS DOUBLE) AS quantity,
          |  CAST(l_extendedprice AS DOUBLE) AS extendedprice,
          |  CAST(l_discount AS DOUBLE) AS discount
          |  FROM lineitem WHERE l_orderkey <= 100)
          |SELECT l_orderkey, l_linenumber, metric, value FROM b
          |UNPIVOT (value FOR metric IN (quantity, extendedprice, discount))
          |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin,
      "q33_zscore" ->
        """WITH fl AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_custkey % 10 = 0),
          |m AS (SELECT c_mktsegment,
          | COUNT(CASE WHEN c_acctbal IS NOT NULL THEN 1 END) AS n,
          | CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sx,
          | CAST(CAST(CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxx
          | FROM fl GROUP BY c_mktsegment),
          |s AS (SELECT c_mktsegment, sx / CAST(n AS DOUBLE) AS mean,
          |      sqrt((sxx - sx*sx/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS sd FROM m)
          |SELECT c_custkey, c_mktsegment,
          | CASE WHEN sd > 0 THEN (CAST(c_acctbal AS DOUBLE) - mean) / sd END AS z
          |FROM fl JOIN s USING (c_mktsegment) ORDER BY c_custkey""".stripMargin,
      "data_survivors" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
           |SELECT d.doc_id FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
           |WHERE lab.id IS NULL OR lab.cluster_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      "data_survivors_quality" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
           |m AS (SELECT t.doc_id, lab.cluster_id, len(t.tk) AS sc
           |      FROM t JOIN lab ON lab.id = t.doc_id),
           |k AS (SELECT doc_id FROM (
           |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY sc DESC, doc_id) AS rn
           |  FROM m) WHERE rn = 1)
           |SELECT d.doc_id FROM documents d LEFT JOIN lab ON lab.id = d.doc_id WHERE lab.id IS NULL
           |UNION ALL SELECT doc_id FROM k
           |ORDER BY doc_id""".stripMargin,
      "dedup_clusters" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id)
           |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY id""".stripMargin,
      "data_sample" ->
        s"""SELECT doc_id, len($toks) AS n_tok FROM documents
           |WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1') ORDER BY doc_id""".stripMargin,
      "data_decontam" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |shl AS (SELECT doc_id, unnest(list_distinct(${shingles("tk", 8)})) AS s FROM t),
           |b AS (SELECT DISTINCT s FROM shl WHERE doc_id < 128)
           |SELECT doc_id, COUNT(*) AS n_hits FROM shl JOIN b USING (s)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "data_token_budget" ->
        s"""WITH t AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS tok FROM documents),
           |c AS (SELECT doc_id, lang,
           |  CAST(SUM(tok) OVER (PARTITION BY lang
           |    ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           |  FROM t)
           |SELECT doc_id, lang, cum_tokens FROM c WHERE cum_tokens <= 2000
           |ORDER BY doc_id""".stripMargin,
      "data_contam_report" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |shl AS (SELECT doc_id, unnest(list_distinct(${shingles("tk", 8)})) AS s FROM t),
           |d AS (SELECT doc_id, s FROM shl WHERE doc_id >= 128),
           |b AS (SELECT doc_id AS bench_id, s FROM shl WHERE doc_id < 128)
           |SELECT bench_id, COUNT(DISTINCT d.doc_id) AS n_contaminating_docs,
           | COUNT(DISTINCT s) AS n_shared_grams
           |FROM b JOIN d USING (s) GROUP BY bench_id ORDER BY bench_id""".stripMargin,
      "data_stratified" ->
        """WITH f AS (SELECT event_type, value FROM events
          | WHERE CASE event_type
          |  WHEN 'click' THEN substr(md5(event_id::VARCHAR),1,1) < '2'
          |  WHEN 'purchase' THEN true
          |  WHEN 'view' THEN substr(md5(event_id::VARCHAR),1,1) < '1'
          |  ELSE substr(md5(event_id::VARCHAR),1,1) < '4' END)
          |SELECT event_type, COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
      "text_topterms" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |r AS (SELECT doc_id, token, tf,
           |       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS rn FROM f)
           |SELECT doc_id, token AS top_term, tf FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "q25_ntile" ->
        """WITH r AS (SELECT c_mktsegment, c_acctbal,
          |  NTILE(4) OVER (PARTITION BY c_mktsegment
          |                 ORDER BY c_acctbal DESC, c_custkey) AS quartile
          | FROM customer)
          |SELECT c_mktsegment, quartile, COUNT(*) AS n,
          | MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
          |FROM r GROUP BY c_mktsegment, quartile ORDER BY c_mktsegment, quartile""".stripMargin,
      "q26_fuzzy" ->
        """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
          | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
          |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          |WHERE levenshtein(a.c_name, b.c_name) <= 1
          |ORDER BY a_id, b_id""".stripMargin,
      "q27_hof" ->
        """SELECT l_orderkey, COUNT(*) AS n_items,
          | CAST(COALESCE(SUM(CAST(l_quantity AS INT)) FILTER (CAST(l_quantity AS INT) > 25), 0) AS BIGINT) AS sum_hi,
          | CAST(COUNT(*) FILTER (CAST(l_quantity AS INT) > 25) AS BIGINT) AS n_hi
          |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
      "q28_datetime" ->
        """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          | CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
          | COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_price
          |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin,
      "q18_skewjoin" ->
        """SELECT l_returnflag,
          | CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
          | COUNT(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q21_cube" ->
        """SELECT l_returnflag, l_linestatus,
          | CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
          | COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
      "q22_setops" ->
        """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
          |b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
          |i AS (SELECT o_custkey, 'both' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)),
          |e AS (SELECT o_custkey, 'open_only' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
          |SELECT o_custkey, op FROM i UNION ALL SELECT o_custkey, op FROM e
          |ORDER BY op, o_custkey""".stripMargin,
      "text_vocab" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |v AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS tf, COUNT(*) AS df FROM f GROUP BY token)
           |SELECT token, tf, df FROM v ORDER BY tf DESC, token LIMIT 100""".stripMargin,
      "text_tfidf" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |dft AS (SELECT token, COUNT(*) AS df FROM f GROUP BY token),
           |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
           |sc AS (SELECT f.doc_id, f.token, f.tf, dft.df,
           |       CAST(f.tf * nn.n_docs AS DOUBLE)/dft.df AS score
           |       FROM f JOIN dft USING (token) CROSS JOIN nn),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn FROM sc)
           |SELECT doc_id, token AS term, tf, df, score FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "q23_histogram" ->
        """WITH b AS (SELECT CAST(FLOOR(l_extendedprice/5000) AS BIGINT) AS bin FROM lineitem)
          |SELECT bin, COUNT(*) AS n, CAST(bin*5000 AS DOUBLE) AS lo
          |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
      "q24_stats" ->
        """WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sx,
          | CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sy,
          | CAST(CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxx,
          | CAST(CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS syy,
          | CAST(CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxy
          | FROM lineitem GROUP BY l_returnflag)
          |SELECT l_returnflag, n,
          | sx / CAST(n AS DOUBLE) AS mean_x,
          | sqrt((sxx - sx*sx/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS stddev_x,
          | (CAST(n AS DOUBLE)*sxy - sx*sy) /
          |   sqrt((CAST(n AS DOUBLE)*sxx - sx*sx) * (CAST(n AS DOUBLE)*syy - sy*sy)) AS corr_xy
          |FROM m ORDER BY l_returnflag""".stripMargin,
      "q31_rangeframe" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_s, value
          |           FROM events WHERE user_id % 20 = 0)
          |SELECT user_id, event_id, ts_s,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS w_sum,
          | COUNT(*) OVER w AS w_n
          |FROM e
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, ts_s, event_id""".stripMargin,
      "q32_lateral" ->
        """SELECT n.n_name, t.c_custkey, t.c_acctbal
          |FROM nation n,
          | LATERAL (SELECT c_custkey, c_acctbal FROM customer c
          |          WHERE c.c_nationkey = n.n_nationkey
          |          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY n.n_name, t.c_custkey""".stripMargin,
      "q29_nullsafe" ->
        """WITH e AS (SELECT NULLIF(user_id % 4, 3) AS bucket, value FROM events),
          |d AS (SELECT * FROM (VALUES (0, 'a'), (1, 'b'), (2, 'c'), (NULL, 'nul')) AS t(bucket, tag))
          |SELECT tag, COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |FROM e JOIN d ON e.bucket IS NOT DISTINCT FROM d.bucket
          |GROUP BY tag ORDER BY tag""".stripMargin,
      "q30_stragg" ->
        """SELECT l_returnflag,
          | string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
          | COUNT(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "data_weighted" ->
        """SELECT doc_id, n_chars FROM documents
          |WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0
          |      < LEAST(CAST(1 AS DOUBLE), CAST(n_chars AS DOUBLE) / 600.0)
          |ORDER BY doc_id""".stripMargin,
      "data_topk_sample" ->
        """SELECT doc_id, h FROM (
          |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents ORDER BY h LIMIT 100)
          |ORDER BY doc_id""".stripMargin,
      "data_overlap_sketch" ->
        // exact window/overlap cardinalities computed independently; the
        // KMV estimates aren't SQL-replicable (XXH64) so their in-bounds
        // claims are stated as constants (q20_approx convention)
        """WITH w AS (
          |  SELECT l_partkey,
          |   l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01' AS in_a,
          |   l_shipdate >= TIMESTAMP '1996-01-15' AND l_shipdate < TIMESTAMP '1996-02-15' AS in_b
          |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-15')
          |SELECT
          | COUNT(DISTINCT CASE WHEN in_a THEN l_partkey END) AS exact_a,
          | COUNT(DISTINCT CASE WHEN in_b THEN l_partkey END) AS exact_b,
          | COUNT(DISTINCT l_partkey) AS exact_union,
          | COUNT(DISTINCT CASE WHEN in_a THEN l_partkey END)
          |  + COUNT(DISTINCT CASE WHEN in_b THEN l_partkey END)
          |  - COUNT(DISTINCT l_partkey) AS exact_overlap,
          | true AS est_a_ok, true AS est_b_ok, true AS est_union_ok, true AS est_overlap_ok
          |FROM w""".stripMargin,
      "events_scd2" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
          |           FROM events WHERE user_id % 10 = 0),
          |c AS (SELECT user_id, event_id, ts_us, event_type,
          |       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
          |      FROM e),
          |f AS (SELECT user_id, event_id, ts_us, event_type FROM c
          |      WHERE prev IS NULL OR prev <> event_type)
          |SELECT user_id, event_type, ts_us AS valid_from,
          | lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to
          |FROM f ORDER BY user_id, valid_from""".stripMargin,
      "events_funnel_conv" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type FROM events),
          |fc AS (SELECT user_id, MIN(ts_us) AS first_click_us FROM e
          |       WHERE event_type = 'click' GROUP BY user_id),
          |j AS (SELECT fc.user_id, fc.first_click_us, p.ts_us AS pts
          |      FROM fc LEFT JOIN e p
          |       ON p.user_id = fc.user_id AND p.event_type = 'purchase' AND p.ts_us >= fc.first_click_us)
          |SELECT user_id, first_click_us, MIN(pts) AS first_purchase_us,
          | MIN(pts) IS NOT NULL AS converted
          |FROM j GROUP BY user_id, first_click_us ORDER BY user_id""".stripMargin,
      "events_intervals" ->
        """WITH iv AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
          |            epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e
          |            FROM events WHERE user_id % 10 = 0),
          |t AS (SELECT user_id, s, e,
          |      MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
          |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          |      FROM iv),
          |t2 AS (SELECT user_id, s, e,
          |       SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END) OVER
          |        (PARTITION BY user_id ORDER BY s, e
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          |       FROM t)
          |SELECT user_id, CAST(island AS BIGINT) AS island, MIN(s) AS s_us, MAX(e) AS e_us, COUNT(*) AS n
          |FROM t2 GROUP BY user_id, island ORDER BY user_id, island""".stripMargin,
      "events_resample" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket, value
          |           FROM events WHERE user_id % 10 = 0),
          |pb AS (SELECT user_id, bucket, COUNT(*) AS n,
          |       CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |       FROM e GROUP BY user_id, bucket),
          |bounds AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM pb GROUP BY user_id
          |           HAVING MAX(bucket) - MIN(bucket) < 1000000),
          |grid AS (SELECT user_id, unnest(range(lo, hi+1)) AS bucket FROM bounds),
          |j AS (SELECT g.user_id, g.bucket, pb.n, pb.sum_value
          |      FROM grid g LEFT JOIN pb USING (user_id, bucket))
          |SELECT user_id, bucket, COALESCE(n, 0) AS n,
          | LAST_VALUE(sum_value IGNORE NULLS) OVER
          |  (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value,
          | n IS NULL AS gap
          |FROM j ORDER BY user_id, bucket""".stripMargin,
      "dedup_spans" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(${shingles("tk", 8)})) AS s FROM t),
           |dfq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
           |agg AS (SELECT doc_id, COUNT(*) AS n_ngrams,
           |        CAST(COUNT(*) FILTER (df >= 2) AS BIGINT) AS n_dup
           |        FROM sh JOIN dfq USING (s) GROUP BY doc_id)
           |SELECT doc_id, n_ngrams, n_dup, CAST(n_dup AS DOUBLE)/n_ngrams AS dup_fraction
           |FROM agg ORDER BY doc_id""".stripMargin,
      "text_clean" ->
        """WITH c AS (SELECT doc_id,
          | trim(regexp_replace(
          |  replace(replace(replace(replace(replace(replace(
          |  replace(replace(replace(replace(replace(replace(
          |   regexp_replace(text, '<[^>]*>', ' ', 'g'),
          |   '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),'&nbsp;',' '),'&amp;','&'),
          |   '“','"'),'”','"'),'‘',''''),'’',''''),'–','-'),'—','-'),
          |  '\s+', ' ', 'g')) AS t
          | FROM documents)
          |SELECT doc_id, length(t) AS clean_chars, md5(t) AS clean_md5
          |FROM c ORDER BY doc_id""".stripMargin,
      "data_mixture" ->
        """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents
          |           WHERE lang IN ('en','de','fr','zh') GROUP BY lang),
          |t AS (SELECT lang, cnt, CASE lang
          |        WHEN 'en' THEN CAST(0.5 AS DOUBLE) WHEN 'de' THEN CAST(0.2 AS DOUBLE)
          |        WHEN 'fr' THEN CAST(0.2 AS DOUBLE) WHEN 'zh' THEN CAST(0.1 AS DOUBLE) END AS tf
          |      FROM c),
          |n AS (SELECT MIN(CAST(cnt AS DOUBLE) / tf) AS n_total FROM t),
          |r AS (SELECT lang, CAST(FLOOR(LEAST(CAST(1 AS DOUBLE), tf * n.n_total / CAST(cnt AS DOUBLE)) * 65536) AS INT) AS thr
          |      FROM t, n),
          |k AS (SELECT d.lang FROM documents d JOIN r USING (lang)
          |      WHERE r.thr >= 65536
          |         OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', r.thr))
          |SELECT lang, COUNT(*) AS n_kept FROM k GROUP BY lang ORDER BY lang""".stripMargin,
      "data_funnel" ->
        s"""WITH v AS (SELECT CASE
           | WHEN len($toks) < 20 THEN 'too_short'
           | WHEN n_chars > 450 THEN 'too_long'
           | WHEN lang <> 'en' THEN 'non_english'
           | ELSE 'kept' END AS verdict FROM documents)
           |SELECT verdict, COUNT(*) AS n_docs FROM v GROUP BY verdict ORDER BY verdict""".stripMargin,
      "data_domain_cap" ->
        """WITH r AS (SELECT doc_id, source, n_chars,
          |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM documents)
          |SELECT doc_id, source, n_chars, rn FROM r WHERE rn <= 20
          |ORDER BY source, rn""".stripMargin,
      "dedup_containment" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 3)}) AS s FROM t),
           |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
           |dfq AS (SELECT g, COUNT(*) AS df FROM e GROUP BY g),
           |rare AS (SELECT e.doc_id, e.g FROM e JOIN dfq USING (g) WHERE df <= 20),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |         FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id),
           |v AS (SELECT a_id, b_id,
           |      len(list_intersect(sa.s, sb.s))::DOUBLE / LEAST(len(sa.s), len(sb.s)) AS containment
           |      FROM cand JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id)
           |SELECT a_id, b_id, ROUND(containment, 4) AS containment
           |FROM v WHERE containment >= 0.9 ORDER BY a_id, b_id""".stripMargin,
      "dedup_ngram_jaccard" -> jaccardPairsSql(n = 3, threshold = 0.8),
      "dedup_embedding" ->
        s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |both_t AS (
           | SELECT vec_id, vec FROM base
           | UNION ALL SELECT vec_id + 100000, list_transform(vec, x -> x*1.001) FROM base)
           |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           | ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) AS cosine
           |FROM both_t a JOIN both_t b ON a.vec_id < b.vec_id
           |WHERE ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) >= 0.999
           |ORDER BY a_id, b_id""".stripMargin,
      "dedup_semantic" ->
        // The k-means cells/cent_sims aren't SQL-replicable (XXH64-seeded
        // training), but the SemDeDup PRUNE RULE is verifiable against
        // them: over the (id, cell, cent_sim, unit) dump Verify writes,
        // replay within-cell cosine ≥ τ and drop the member CLOSER to its
        // centroid (higher cent_sim; ties drop the higher id). Survivors
        // must match the engine's exactly. Cosine = one dot over the
        // dumped unit vectors, summed left-to-right in both engines,
        // rounded to 6 BEFORE the threshold on both sides.
        """WITH cl AS (SELECT id, cell, cent_sim, CAST(unit AS DOUBLE[]) AS unit
          |            FROM read_parquet('__GRAFT_OUT__/_aux_semantic_cells/*.parquet')),
          |drops AS (
          | SELECT DISTINCT a.id
          | FROM cl a JOIN cl b ON a.cell = b.cell AND a.id <> b.id
          | WHERE ROUND(list_reduce(list_transform(list_zip(a.unit, b.unit),
          |         p -> p[1]*p[2]), (x,y) -> x+y), 6) >= 0.99
          |   AND (b.cent_sim < a.cent_sim
          |        OR (b.cent_sim = a.cent_sim AND b.id < a.id)))
          |SELECT id, cell, cent_sim FROM cl
          |WHERE id NOT IN (SELECT id FROM drops)
          |ORDER BY id""".stripMargin,
      "dedup_semantic_incr" ->
        // Replay the engine's full sequential chain over the side-tagged
        // cells dump: (1) bootstrap-prune the base side (index = base
        // survivors), (2) a delta row with ANY same-cell index neighbor
        // at cos ≥ τ is dropped_index (append-only contract — no
        // preference across the boundary), (3) the remainder self-prunes
        // by the SemDeDup rule (lower cent_sim preferred, ties keep the
        // lower id) → dropped_delta, else survived.
        """WITH cl AS (SELECT side, id, cell, cent_sim, CAST(unit AS DOUBLE[]) AS unit
          |            FROM read_parquet('__GRAFT_OUT__/_aux_semantic_incr_cells/*.parquet')),
          |base AS (SELECT * FROM cl WHERE side = 'base'),
          |delta AS (SELECT * FROM cl WHERE side = 'delta'),
          |bdrops AS (
          | SELECT DISTINCT a.id
          | FROM base a JOIN base b ON a.cell = b.cell AND a.id <> b.id
          | WHERE ROUND(list_reduce(list_transform(list_zip(a.unit, b.unit),
          |         p -> p[1]*p[2]), (x,y) -> x+y), 6) >= 0.99
          |   AND (b.cent_sim < a.cent_sim
          |        OR (b.cent_sim = a.cent_sim AND b.id < a.id))),
          |idx AS (SELECT * FROM base WHERE id NOT IN (SELECT id FROM bdrops)),
          |di AS (
          | SELECT DISTINCT d.id
          | FROM delta d JOIN idx x ON d.cell = x.cell
          | WHERE ROUND(list_reduce(list_transform(list_zip(d.unit, x.unit),
          |         p -> p[1]*p[2]), (x2,y2) -> x2+y2), 6) >= 0.99),
          |rem AS (SELECT * FROM delta WHERE id NOT IN (SELECT id FROM di)),
          |ds AS (
          | SELECT DISTINCT a.id
          | FROM rem a JOIN rem b ON a.cell = b.cell AND a.id <> b.id
          | WHERE ROUND(list_reduce(list_transform(list_zip(a.unit, b.unit),
          |         p -> p[1]*p[2]), (x,y) -> x+y), 6) >= 0.99
          |   AND (b.cent_sim < a.cent_sim
          |        OR (b.cent_sim = a.cent_sim AND b.id < a.id)))
          |SELECT d.id, d.cell, d.cent_sim,
          |  CASE WHEN d.id IN (SELECT id FROM di) THEN 'dropped_index'
          |       WHEN d.id IN (SELECT id FROM ds) THEN 'dropped_delta'
          |       ELSE 'survived' END AS verdict
          |FROM delta d
          |ORDER BY d.id""".stripMargin,
      "dedup_semantic_drift" ->
        // the drift report replayed over the side-tagged cells dump:
        // decimal-exact mean cent_sims, integer-exact occupancy L1 in
        // ppm (cross-multiplied BIGINT shares), literal thresholds
        """WITH cl AS (SELECT side, cell, cent_sim
          |            FROM read_parquet('__GRAFT_OUT__/_aux_semantic_incr_cells/*.parquet')),
          |occ AS (SELECT cell,
          |  SUM(CASE WHEN side = 'base' THEN 1 ELSE 0 END)::BIGINT AS n_b,
          |  SUM(CASE WHEN side = 'delta' THEN 1 ELSE 0 END)::BIGINT AS n_d
          | FROM cl GROUP BY cell),
          |tot AS (SELECT
          |  SUM(CASE WHEN side = 'base' THEN 1 ELSE 0 END)::BIGINT AS n_base,
          |  SUM(CASE WHEN side = 'delta' THEN 1 ELSE 0 END)::BIGINT AS n_delta,
          |  CAST(CAST(CAST(SUM(CASE WHEN side = 'base' THEN CAST(cent_sim AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_b,
          |  CAST(CAST(CAST(SUM(CASE WHEN side = 'delta' THEN CAST(cent_sim AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_d
          | FROM cl),
          |l1 AS (SELECT SUM(ABS(CAST(n_b AS HUGEINT) * n_delta
          |                       - CAST(n_d AS HUGEINT) * n_base)) AS l1_num
          |       FROM occ, tot)
          |SELECT n_base, n_delta,
          | ROUND(sum_b / n_base, 9) AS base_mean_sim,
          | ROUND(sum_d / n_delta, 9) AS delta_mean_sim,
          | ROUND(sum_b / n_base - sum_d / n_delta, 9) AS sim_drift,
          | CAST(l1_num * 1000000 // (2 * CAST(n_base AS HUGEINT) * n_delta) AS BIGINT) AS occ_l1_ppm,
          | (ABS(ROUND(sum_b / n_base - sum_d / n_delta, 9)) > 0.005
          |  OR l1_num * 1000000 // (2 * CAST(n_base AS HUGEINT) * n_delta) > 100000) AS rebuild
          |FROM tot, l1""".stripMargin,
      "vec_quantize" ->
        """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          |q AS (SELECT vec_id, vec, list_min(vec) AS lo, list_max(vec) AS hi FROM v),
          |c AS (SELECT vec_id, vec, lo, hi,
          |  list_transform(vec, x -> CASE WHEN hi - lo = 0 THEN 0
          |    ELSE CAST(round((x - lo) * 255 / (hi - lo)) AS INT) END) AS codes FROM q),
          |r AS (SELECT vec_id, lo, hi,
          |  list_aggregate(
          |   list_transform(
          |    list_zip(vec, list_transform(codes, cc -> CASE WHEN hi - lo = 0 THEN lo
          |      ELSE lo + cc::DOUBLE * (hi - lo) / 255 END)),
          |    p -> abs(p[1] - p[2])), 'max') AS max_abs_err
          | FROM c)
          |SELECT vec_id, lo, hi, max_abs_err FROM r ORDER BY vec_id""".stripMargin,
      "ann_bruteforce" ->
        s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |scored AS (
           | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |  ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) AS cosine
           | FROM base a JOIN base b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
           |ranked AS (
           | SELECT query_id, neighbor_id, cosine,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin,
      "text_tokens" ->
        s"""SELECT doc_id, len($toks) AS n_ws,
           | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS n_bpe
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_quality" ->
        s"""WITH q AS (SELECT doc_id,
           |  len($norm) AS n_chars_norm,
           |  len($norm) - len(regexp_replace($norm, '[^a-z0-9\\sà-ÿ一-鿿]', '', 'g')) AS punct_cnt,
           |  len($toks) AS n_tok,
           |  len(list_filter($toks, t -> list_contains($stopAll, t))) AS stop_hits
           | FROM documents)
           |SELECT doc_id, n_chars_norm, punct_cnt,
           | 0.4 * least(n_tok/50.0, 1.0)
           |  + 0.3 * (1.0 - (CASE WHEN n_chars_norm = 0 THEN 0.0 ELSE punct_cnt::DOUBLE/n_chars_norm END))
           |  + 0.3 * (CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits::DOUBLE/n_tok END) AS quality_score
           |FROM q ORDER BY doc_id""".stripMargin,
      "text_langid" ->
        s"""WITH sc AS (SELECT doc_id,
           |  ${sL("en")} AS s_en, ${sL("de")} AS s_de, ${sL("es")} AS s_es,
           |  ${sL("fr")} AS s_fr, ${sL("zh")} AS s_zh
           | FROM documents)
           |SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
           | CASE
           |  WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           |  WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
           |  WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
           |  WHEN s_fr > 0 AND s_fr >= s_zh THEN 'fr'
           |  WHEN s_zh > 0 THEN 'zh'
           |  ELSE 'und' END AS lang_guess
           |FROM sc ORDER BY doc_id""".stripMargin,
      "text_fingerprint" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents)
           |SELECT doc_id, md5(array_to_string(tk, ' ')) AS fp,
           | list_aggregate(list_transform(${shingles("tk")}, s -> md5(s)), 'min') AS min_shingle_fp
           |FROM t ORDER BY doc_id""".stripMargin,
      "text_shingles" ->
        s"""WITH t AS (SELECT doc_id, ${shingles(toks)} AS s FROM documents)
           |SELECT doc_id, len(s) AS n_shingles, len(list_distinct(s)) AS n_distinct_shingles
           |FROM t ORDER BY doc_id""".stripMargin,
      "text_repetition" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           | s AS (SELECT doc_id, len(tk) AS n_tok, ${shingles("tk", 2)} AS sh FROM t)
           |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           | CASE WHEN n_tok <= 2 THEN 0.0
           |  ELSE 1.0 - len(list_distinct(sh))::DOUBLE / len(sh) END AS rep_ratio
           |FROM s ORDER BY doc_id""".stripMargin,
      "data_split" ->
        s"""WITH s AS (SELECT doc_id, len($toks) AS n_tok,
           |            substr(md5(doc_id::VARCHAR), 1, 1) AS b FROM documents),
           |a AS (SELECT CASE WHEN b <= 'b' THEN 'train' WHEN b <= 'd' THEN 'val'
           |             ELSE 'test' END AS split, n_tok FROM s)
           |SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
           |FROM a GROUP BY split ORDER BY split""".stripMargin,
      "text_chunks" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |w AS (SELECT doc_id, tk,
           |       unnest(range(0, CAST(greatest(ceil((greatest(len(tk),1) - 8)/24.0), 1) AS BIGINT))) AS chunk_idx
           |      FROM t),
           |c AS (SELECT doc_id, chunk_idx, tk[chunk_idx*24+1 : chunk_idx*24+32] AS slc FROM w)
           |SELECT doc_id, chunk_idx, CAST(len(slc) AS BIGINT) AS n_tokens,
           | md5(array_to_string(slc, ' ')) AS chunk_hash
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
      "text_pii_report" ->
        """WITH t AS (SELECT doc_id, lang, text ||
          |  CASE WHEN doc_id % 3 = 0 THEN ' contact-' || doc_id::VARCHAR || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' ref 9876543210' ELSE '' END AS t2 FROM documents),
          |c AS (SELECT lang,
          |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS e,
          |  CAST(len(regexp_extract_all(t2, 'https?://[^ \t\n]+')) AS BIGINT) AS u,
          |  CAST(len(regexp_extract_all(t2, '[0-9]{9,}')) AS BIGINT) AS n FROM t)
          |SELECT lang, COUNT(*) AS n_docs,
          | CAST(SUM(CASE WHEN e + u + n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
          | CAST(SUM(e) AS BIGINT) AS n_emails, CAST(SUM(u) AS BIGINT) AS n_urls,
          | CAST(SUM(n) AS BIGINT) AS n_long_nums
          |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
      "text_pii" ->
        """WITH t AS (SELECT doc_id,
          |  text || ' contact-' || doc_id::VARCHAR || '@example.com see https://ex.org/d/'
          |   || doc_id::VARCHAR || ' ref 9876543210' AS t2 FROM documents)
          |SELECT doc_id,
          | CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          | CAST(len(regexp_extract_all(t2, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
          | CAST(len(regexp_extract_all(t2, '[0-9]{9,}')) AS BIGINT) AS n_long_nums,
          | md5(regexp_replace(regexp_replace(regexp_replace(t2,
          |   'https?://[^ \t\n]+', '<URL>', 'g'),
          |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |   '[0-9]{9,}', '<NUM>', 'g')) AS scrub_hash
          |FROM t ORDER BY doc_id""".stripMargin,
      "pipeline_curation" ->
        s"""WITH dedup AS (
           | SELECT doc_id, text FROM (
           |  SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY md5($norm) ORDER BY doc_id) AS rn
           |  FROM documents) WHERE rn = 1),
           |dt AS (SELECT doc_id, $toks AS tk FROM dedup),
           |dsh AS (SELECT doc_id, unnest(list_distinct(${shingles("tk", 8)})) AS s FROM dt),
           |bt AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 128),
           |b AS (SELECT DISTINCT unnest(list_distinct(${shingles("tk", 8)})) AS s FROM bt),
           |contaminated AS (SELECT DISTINCT doc_id FROM dsh JOIN b USING (s)),
           |clean AS (SELECT doc_id, text FROM dedup
           |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
           |q AS (SELECT doc_id, $toks AS tk,
           |       len($norm) AS nc,
           |       len($norm) - len(regexp_replace($norm, '[^a-z0-9\\sà-ÿ一-鿿]', '', 'g')) AS pc,
           |       len(list_filter($toks, t -> list_contains($stopAll, t))) AS shits
           |      FROM clean),
           |f AS (SELECT doc_id, tk FROM q
           |      WHERE 0.4 * least(len(tk)/50.0, 1.0)
           |        + 0.3 * (1.0 - (CASE WHEN nc = 0 THEN 0.0 ELSE pc::DOUBLE/nc END))
           |        + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0 ELSE shits::DOUBLE/len(tk) END) >= 0.5),
           |sp AS (SELECT doc_id, tk,
           |        CASE WHEN substr(md5(doc_id::VARCHAR),1,1) <= 'b' THEN 'train'
           |             WHEN substr(md5(doc_id::VARCHAR),1,1) <= 'd' THEN 'val' ELSE 'test' END AS split,
           |        CAST(greatest(ceil((greatest(len(tk),1) - 8)/24.0), 1) AS BIGINT) AS n_chunks
           |       FROM f)
           |SELECT split, COUNT(*) AS n_docs, CAST(SUM(len(tk)) AS BIGINT) AS n_tokens,
           | CAST(SUM(n_chunks) AS BIGINT) AS n_chunks
           |FROM sp GROUP BY split ORDER BY split""".stripMargin,
      "text_line_dedup" -> {
        // non-overlapping 3-token segments, mirror of
        // TextFunctions.segmentsFromTokens (DuckDB // is integer div;
        // slice t[a:b] is 1-based inclusive)
        val segs3 = s"(CASE WHEN len(tk) = 0 THEN []::VARCHAR[] ELSE " +
          "list_transform(range(0, (len(tk)+2)//3), i -> array_to_string(tk[i*3+1 : i*3+3], ' ')) END)"
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |g AS (SELECT doc_id, $segs3 AS segs FROM t),
           |s AS (SELECT doc_id, unnest(segs) AS seg, generate_subscripts(segs, 1) AS pos FROM g),
           |d AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM s GROUP BY seg),
           |k AS (SELECT s.doc_id, s.pos, s.seg FROM s JOIN d USING (seg) WHERE d.df <= 2),
           |r AS (SELECT doc_id, COUNT(*) AS n_kept,
           |      string_agg(seg, ' ' ORDER BY pos) AS clean_text FROM k GROUP BY doc_id)
           |SELECT g.doc_id, COALESCE(r.clean_text, '') AS clean_text,
           | CAST(len(g.segs) AS BIGINT) AS n_seg, COALESCE(r.n_kept, 0) AS n_kept
           |FROM g LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin
      },
      "text_para_dedup" -> {
        val segs2 = s"(CASE WHEN len(tk) = 0 THEN []::VARCHAR[] ELSE " +
          "list_transform(range(0, (len(tk)+1)//2), i -> array_to_string(tk[i*2+1 : i*2+2], ' ')) END)"
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |g AS (SELECT doc_id, $segs2 AS segs FROM t),
           |dd AS (SELECT doc_id, segs,
           |       list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept FROM g)
           |SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
           | CAST(len(segs) AS BIGINT) AS n_seg, CAST(len(kept) AS BIGINT) AS n_kept
           |FROM dd ORDER BY doc_id""".stripMargin
      },
      "data_decontam_ngram" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 5)}) AS s FROM t),
           |e AS (SELECT doc_id AS bench_id, s AS es FROM sh WHERE doc_id < 64)
           |SELECT c.doc_id, e.bench_id,
           | CAST(len(list_intersect(c.s, e.es)) AS BIGINT) AS n_shared,
           | CAST(len(e.es) AS BIGINT) AS bench_n,
           | ROUND(len(list_intersect(c.s, e.es))::DOUBLE / len(e.es), 4) AS overlap
           |FROM sh c JOIN e ON len(list_intersect(c.s, e.es))::DOUBLE / len(e.es) >= 0.5
           |ORDER BY doc_id, bench_id""".stripMargin,
      "quality_calibrate" ->
        s"""WITH q AS (SELECT doc_id, source,
           |  len($norm) AS nc,
           |  len($norm) - len(regexp_replace($norm, '[^a-z0-9\\sà-ÿ一-鿿]', '', 'g')) AS pc,
           |  len($toks) AS nt,
           |  len(list_filter($toks, t -> list_contains($stopAll, t))) AS shits
           | FROM documents),
           |sc AS (SELECT doc_id, source,
           |  0.4 * least(nt/50.0, 1.0)
           |   + 0.3 * (1.0 - (CASE WHEN nc = 0 THEN 0.0 ELSE pc::DOUBLE/nc END))
           |   + 0.3 * (CASE WHEN nt = 0 THEN 0.0 ELSE shits::DOUBLE/nt END) AS quality_score
           | FROM q),
           |r AS (SELECT doc_id, source, quality_score,
           |  percent_rank() OVER (PARTITION BY source ORDER BY quality_score, doc_id) AS pct_rank
           | FROM sc)
           |SELECT doc_id, source, quality_score, pct_rank,
           | CAST(CASE WHEN pct_rank >= 0.8 THEN 1 ELSE 0 END AS INT) AS kept
           |FROM r ORDER BY doc_id""".stripMargin,
      "text_bm25" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM f GROUP BY doc_id),
           |q AS (SELECT * FROM f WHERE token IN ('merge', 'join', 'window')),
           |dft AS (SELECT token, COUNT(*) AS df FROM q GROUP BY token),
           |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS tot FROM f),
           |nn AS (SELECT COUNT(*) AS n FROM documents),
           |sc AS (SELECT q.doc_id,
           |   ROUND(((CAST(nn.n AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5)) *
           |         ((q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / (tot.tot / nn.n)))), 4) AS c
           | FROM q JOIN dft USING (token) CROSS JOIN tot CROSS JOIN nn JOIN dl USING (doc_id)),
           |agg AS (SELECT doc_id, COUNT(*) AS n_terms,
           |   CAST(CAST(CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS score
           | FROM sc GROUP BY doc_id)
           |SELECT doc_id, n_terms, score FROM agg ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
      "events_sketch_union" ->
        """WITH e AS (SELECT CAST(event_id % 7 AS INT) AS day, user_id FROM events),
          |d AS (SELECT day, COUNT(DISTINCT user_id) AS nd FROM e GROUP BY day)
          |SELECT (SELECT COUNT(*) FROM d) AS n_days,
          | (SELECT COUNT(DISTINCT user_id) FROM e) AS exact_total,
          | true AS total_ok, true AS days_ok""".stripMargin,
      "data_quarantine" ->
        s"""SELECT doc_id, CASE
           | WHEN len($toks) < 20 THEN 'too_short'
           | WHEN n_chars > 450 THEN 'too_long'
           | WHEN lang <> 'en' THEN 'non_english'
           | ELSE 'kept' END AS verdict
           |FROM documents ORDER BY doc_id""".stripMargin,
      "vec_hash_features" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |b AS (SELECT doc_id,
           |      CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 16 AS INT) AS bucket, tf
           |      FROM f)
           |SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf FROM b GROUP BY doc_id, bucket
           |ORDER BY doc_id, bucket""".stripMargin,
      "write_partition_overwrite_check" ->
        """WITH b AS (SELECT event_id, user_id, CAST(event_id % 5 AS INT) AS day
          |           FROM events WHERE user_id % 10 = 0)
          |SELECT (SELECT COUNT(DISTINCT day) FROM b) AS n_parts,
          | (SELECT COUNT(*) FROM b WHERE day = 2 AND user_id % 3 = 0) AS rows_replaced,
          | (SELECT COUNT(*) FROM b WHERE day <> 2) AS rows_other""".stripMargin,
      "dedup_bloom_probe" ->
        """WITH mem AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 3 = 0),
          |p AS (SELECT GREATEST(32, ((16 * COUNT(*) + 31) // 32) * 32) AS mbits FROM mem),
          |ks AS (SELECT unnest(range(7)) AS i),
          |mpos AS (SELECT CAST(('0x' || substr(md5(i::VARCHAR || ':' || h), 1, 15)) AS BIGINT) % mbits AS pos
          |         FROM mem, p, ks),
          |idx AS (SELECT pos // 32 AS word, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
          |        FROM mpos GROUP BY 1),
          |pr AS (SELECT doc_id,
          |         CASE WHEN doc_id % 3 = 0 THEN md5(text) ELSE md5(text || '::absent') END AS h,
          |         CAST(doc_id % 3 = 0 AS INT) AS is_member
          |       FROM documents WHERE doc_id % 3 <= 1),
          |ppos AS (SELECT doc_id, is_member,
          |           CAST(('0x' || substr(md5(i::VARCHAR || ':' || h), 1, 15)) AS BIGINT) % mbits AS pos
          |         FROM pr, p, ks),
          |hit AS (SELECT doc_id, is_member,
          |          bool_and((COALESCE(idx.bits, 0) & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0) AS might_contain
          |        FROM ppos LEFT JOIN idx ON ppos.pos // 32 = idx.word
          |        GROUP BY doc_id, is_member)
          |SELECT doc_id, is_member, might_contain FROM hit ORDER BY doc_id""".stripMargin,
      "text_ngram_topk" ->
        s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS (SELECT doc_id, unnest(${shingles("tk", 3)}) AS gram FROM tok),
           |pg AS (SELECT doc_id, gram, COUNT(*) AS occ FROM sh GROUP BY doc_id, gram),
           |g AS (SELECT gram, CAST(SUM(occ) AS BIGINT) AS occurrences, COUNT(*) AS df
           |      FROM pg GROUP BY gram)
           |SELECT gram, occurrences, df FROM g ORDER BY occurrences DESC, gram LIMIT 25""".stripMargin,
      "data_drift" ->
        s"""WITH tok AS (SELECT lang, unnest($toks) AS token FROM documents WHERE lang IN ('en','de')),
           |f AS (SELECT lang, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY lang, token),
           |a AS (SELECT token, tf AS tf_ref FROM f WHERE lang = 'en'),
           |b AS (SELECT token, tf AS tf_cur FROM f WHERE lang = 'de'),
           |ta AS (SELECT CAST(SUM(tf_ref) AS BIGINT) AS tot_ref FROM a),
           |tb AS (SELECT CAST(SUM(tf_cur) AS BIGINT) AS tot_cur FROM b),
           |j AS (SELECT COALESCE(a.token, b.token) AS token,
           |        COALESCE(tf_ref, 0) AS tf_ref, COALESCE(tf_cur, 0) AS tf_cur
           |      FROM a FULL OUTER JOIN b ON a.token = b.token),
           |dd AS (SELECT token, CAST(tf_ref AS BIGINT) AS tf_ref, CAST(tf_cur AS BIGINT) AS tf_cur,
           |        abs(CAST(tf_ref AS HUGEINT) * tot_cur - CAST(tf_cur AS HUGEINT) * tot_ref) AS ds,
           |        CASE WHEN CAST(tf_cur AS HUGEINT) * tot_ref > CAST(tf_ref AS HUGEINT) * tot_cur
           |          THEN 'up' ELSE 'down' END AS direction
           |       FROM j, ta, tb)
           |SELECT token, tf_ref, tf_cur, CAST(ds AS DOUBLE) AS delta_scaled, direction
           |FROM dd ORDER BY ds DESC, token LIMIT 20""".stripMargin,
      "quality_model_score" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |b AS (SELECT doc_id,
           |      CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket, tf
           |      FROM f),
           |fb AS (SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf FROM b GROUP BY doc_id, bucket),
           |w AS (SELECT doc_id, tf,
           |      CAST(('0x' || substr(md5('w:' || bucket::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
           |      FROM fb)
           |SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS score_milli, SUM(tf * w) > 0 AS kept
           |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "corpus_overlap_est" ->
        s"""WITH tok AS (SELECT lang AS slice, unnest($toks) AS token FROM documents
           |             WHERE lang IN ('en','de','fr','es')),
           |f AS (SELECT DISTINCT slice, token FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)),
           |ks AS (SELECT unnest(range(200)) AS seed),
           |h AS (SELECT slice, seed,
           |        min(CAST(('0x' || substr(md5(seed::VARCHAR || ':' || token), 1, 15)) AS BIGINT)) AS min_h
           |      FROM f, ks GROUP BY slice, seed),
           |est AS (SELECT x.slice AS slice_a, y.slice AS slice_b,
           |          ROUND(SUM(CASE WHEN x.min_h = y.min_h THEN 1 ELSE 0 END)::DOUBLE / 200, 4) AS est_jaccard
           |        FROM h x JOIN h y ON x.seed = y.seed AND x.slice < y.slice GROUP BY 1, 2),
           |sz AS (SELECT slice, COUNT(*) AS n FROM f GROUP BY slice),
           |it AS (SELECT p.slice AS slice_a, q.slice AS slice_b, COUNT(*) AS n_int
           |       FROM f p JOIN f q ON p.token = q.token AND p.slice < q.slice GROUP BY 1, 2),
           |ex AS (SELECT slice_a, slice_b,
           |         ROUND(n_int::DOUBLE / (a.n + b.n - n_int), 4) AS exact_jaccard
           |       FROM it JOIN sz a ON a.slice = it.slice_a JOIN sz b ON b.slice = it.slice_b)
           |SELECT e.slice_a, e.slice_b, e.est_jaccard,
           | COALESCE(ex.exact_jaccard, 0.0) AS exact_jaccard,
           | abs(e.est_jaccard - COALESCE(ex.exact_jaccard, 0.0)) <= 0.15 AS ok
           |FROM est e LEFT JOIN ex ON e.slice_a = ex.slice_a AND e.slice_b = ex.slice_b
           |ORDER BY e.slice_a, e.slice_b""".stripMargin,
      "text_hybrid_retrieval" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM f GROUP BY doc_id),
           |q AS (SELECT * FROM f WHERE token IN ('merge', 'join', 'window')),
           |dft AS (SELECT token, COUNT(*) AS df FROM q GROUP BY token),
           |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS tot FROM f),
           |nn AS (SELECT COUNT(*) AS n FROM documents),
           |sc AS (SELECT q.doc_id,
           |   ROUND(((CAST(nn.n AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5)) *
           |         ((q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / (tot.tot / nn.n)))), 4) AS c
           | FROM q JOIN dft USING (token) CROSS JOIN tot CROSS JOIN nn JOIN dl USING (doc_id)),
           |agg AS (SELECT doc_id, CAST(CAST(CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS score
           | FROM sc GROUP BY doc_id),
           |bm AS (SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 20),
           |bmr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank FROM bm),
           |base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |vsc AS (SELECT b.vec_id AS doc_id,
           |          ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) AS cosine
           |        FROM base a JOIN base b ON a.vec_id = 0 AND b.vec_id <> 0),
           |vrall AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS rank FROM vsc),
           |vr AS (SELECT doc_id, rank FROM vrall WHERE rank <= 20),
           |u AS (SELECT doc_id, CAST(ROUND(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS c FROM bmr
           |      UNION ALL
           |      SELECT doc_id, CAST(ROUND(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS c FROM vr)
           |SELECT doc_id, COUNT(*) AS n_lists,
           | CAST(CAST(CAST(SUM(c) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS rrf
           |FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,
      "events_agg_maint" ->
        """SELECT user_id, COUNT(*) AS cnt,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_v,
          | MIN(value) AS min_v, MAX(value) AS max_v
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q36_groupingsets" ->
        """SELECT o_orderstatus, o_orderpriority,
          | CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
          | COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_price
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
          |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
      "data_winsorize" ->
        """WITH q AS (SELECT o_orderstatus,
          |             quantile_cont(o_totalprice, 0.05) AS qlo,
          |             quantile_cont(o_totalprice, 0.95) AS qhi
          |           FROM orders GROUP BY 1)
          |SELECT o_orderkey, o.o_orderstatus, o_totalprice,
          | CASE WHEN o_totalprice < qlo THEN qlo
          |      WHEN o_totalprice > qhi THEN qhi
          |      ELSE o_totalprice END AS v_w
          |FROM orders o JOIN q ON o.o_orderstatus = q.o_orderstatus
          |ORDER BY o_orderkey""".stripMargin,
      "data_diversity_sample" ->
        """WITH b AS (SELECT vec_id,
          |    CAST((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
          |       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
          |       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
          |       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
          |       + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END) AS INT) AS bucket,
          |    md5('42:' || vec_id::VARCHAR) AS k
          |  FROM embeddings),
          |r AS (SELECT vec_id, bucket,
          |        CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY k, vec_id) AS INT) AS rank
          |      FROM b)
          |SELECT vec_id, bucket, rank FROM r WHERE rank <= 3 ORDER BY bucket, rank""".stripMargin,
      "vec_project" ->
        """WITH e AS (SELECT vec_id, unnest(range(len(embedding))) AS i, embedding FROM embeddings),
          |x AS (SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x FROM e),
          |j AS (SELECT unnest(range(4)) AS j),
          |p AS (SELECT vec_id, j.j,
          |        ROUND(x * (CASE WHEN CAST(('0x' || substr(md5('rp:' || i::VARCHAR || ':' || j.j::VARCHAR), 1, 8)) AS BIGINT) % 2 = 0
          |                   THEN 1.0 ELSE -1.0 END), 6) AS c
          |      FROM x, j)
          |SELECT vec_id, CAST(j AS INT) AS j,
          | CAST(CAST(CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS comp
          |FROM p GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin,
      "data_padding_waste" ->
        s"""WITH t AS (SELECT len($toks) AS n_tok FROM documents),
           |b AS (SELECT LEAST(CAST(n_tok AS BIGINT), 256) AS eff,
           |        LEAST(GREATEST(((n_tok + 31) // 32) * 32, 32), 256) AS bucket_len
           |      FROM t),
           |g AS (SELECT bucket_len, COUNT(*) AS n_docs, CAST(SUM(eff) AS BIGINT) AS real_tokens
           |      FROM b GROUP BY bucket_len)
           |SELECT bucket_len, n_docs, real_tokens,
           | n_docs * bucket_len AS padded_slots,
           | n_docs * bucket_len - real_tokens AS waste,
           | ROUND((n_docs * bucket_len - real_tokens)::DOUBLE / (n_docs * bucket_len), 4) AS waste_ratio,
           | n_docs * 256 - real_tokens AS naive_waste
           |FROM g ORDER BY bucket_len""".stripMargin,
      "data_curriculum" ->
        s"""WITH q AS (SELECT doc_id, lang,
           |  len($norm) AS nc,
           |  len($norm) - len(regexp_replace($norm, '[^a-z0-9\\sà-ÿ一-鿿]', '', 'g')) AS pc,
           |  len($toks) AS nt,
           |  len(list_filter($toks, t -> list_contains($stopAll, t))) AS shits
           | FROM documents),
           |sc AS (SELECT doc_id, lang,
           |  0.4 * least(nt/50.0, 1.0)
           |   + 0.3 * (1.0 - (CASE WHEN nc = 0 THEN 0.0 ELSE pc::DOUBLE/nc END))
           |   + 0.3 * (CASE WHEN nt = 0 THEN 0.0 ELSE shits::DOUBLE/nt END) AS quality_score
           | FROM q),
           |r AS (SELECT doc_id, lang,
           |        percent_rank() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS pct_rank
           |      FROM sc)
           |SELECT doc_id, lang,
           | CAST(LEAST(FLOOR(pct_rank * 3), 2) AS INT) AS stage,
           | md5('cur:' || doc_id::VARCHAR) AS sort_key
           |FROM r ORDER BY stage, sort_key, doc_id""".stripMargin,
      "q35_mad" ->
        """WITH m AS (SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
          |           FROM orders GROUP BY 1),
          |j AS (SELECT o.o_orderstatus, m.med, abs(o.o_totalprice - m.med) AS dev
          |      FROM orders o JOIN m USING (o_orderstatus))
          |SELECT o_orderstatus, MIN(med) AS med, quantile_cont(dev, 0.5) AS mad
          |FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "multimodal_features" ->
        """SELECT doc_id, octet_length(encode(text)) AS byte_len,
          | CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
          | CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
          | CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames,
          | md5(text) AS content_hash
          |FROM documents ORDER BY doc_id""".stripMargin,
      "multimodal_framesample" ->
        """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS bl FROM documents),
          |f AS (SELECT doc_id, bl, unnest(range(0, bl % 30 + 1, 4)) AS frame_idx FROM b)
          |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
          | md5(CAST(bl AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_sig
          |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
      "events_hopping" ->
        """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 300000000 AS slot, value FROM events),
          |w AS (SELECT (slot - i) * 300 AS window_start_s, value
          |      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS i) u)
          |SELECT window_start_s, COUNT(*) AS n_events,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |FROM w GROUP BY window_start_s ORDER BY window_start_s""".stripMargin,
      "events_debounce" ->
        """WITH x AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          |  lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
          |    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
          |  FROM events)
          |SELECT event_id FROM x WHERE prev IS NULL OR us - prev > 172800000000
          |ORDER BY event_id""".stripMargin,
      "events_cooccurrence" ->
        """WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
          |SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_users
          |FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
          |GROUP BY type_a, type_b ORDER BY type_a, type_b""".stripMargin,
      "q37_mode" ->
        """WITH c AS (SELECT user_id, event_type AS mode_type, COUNT(*) AS mode_cnt
          |           FROM events GROUP BY user_id, event_type),
          |r AS (SELECT *, row_number() OVER (
          |        PARTITION BY user_id ORDER BY mode_cnt DESC, mode_type ASC) AS rn FROM c)
          |SELECT user_id, mode_type, mode_cnt FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
      "data_skew_report" ->
        """WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey),
          |t AS (SELECT COUNT(*) AS total FROM lineitem)
          |SELECT l_suppkey, cnt, (cnt * 1000000) // total AS share_ppm
          |FROM c CROSS JOIN t ORDER BY cnt DESC, l_suppkey ASC LIMIT 20""".stripMargin,
      "text_bpe_pairs" ->
        s"""WITH tk AS (SELECT unnest($toks) AS tok FROM documents),
           |v AS (SELECT tok, COUNT(*) AS tf FROM tk WHERE tok <> '' GROUP BY tok),
           |p AS (SELECT unnest(list_transform(range(1, len(tok)),
           |        i -> substr(tok, i, 1) || ' ' || substr(tok, i + 1, 1))) AS pair, tf, tok
           |      FROM v)
           |SELECT pair, CAST(SUM(tf) AS BIGINT) AS weighted_count,
           | COUNT(DISTINCT tok) AS n_word_types
           |FROM p GROUP BY pair ORDER BY weighted_count DESC, pair ASC LIMIT 30""".stripMargin,
      "vec_kmeans_step" ->
        """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |c AS (SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT 8),
          |d AS (SELECT v.vec_id, c.cid, v.v AS v,
          |  round(list_reduce(list_transform(list_zip(v.v, c.cv),
          |    p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y), 6) AS dist
          |  FROM v CROSS JOIN c),
          |a AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)
          |SELECT cid AS cluster_id, COUNT(*) AS n_members,
          | CAST(CAST(CAST(SUM(CAST(v[1] AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
          |   / COUNT(*) AS c0,
          | CAST(CAST(CAST(SUM(CAST(v[2] AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
          |   / COUNT(*) AS c1
          |FROM a WHERE rn = 1 GROUP BY cid ORDER BY cluster_id""".stripMargin,
      "dedup_cluster_stats" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
           |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id),
           |h AS (SELECT cluster_size, COUNT(*) AS n_clusters FROM sz GROUP BY cluster_size),
           |s1 AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
           |        (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp) AS n_clusters)
           |SELECT cluster_size, n_clusters FROM h
           |UNION ALL SELECT cluster_size, n_clusters FROM s1 WHERE n_clusters > 0
           |ORDER BY cluster_size""".stripMargin,
      "data_grouped_split" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
           |x AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
           |      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
           |SELECT doc_id, rep_id,
           | CASE WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
           |      WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
           |      ELSE 'test' END AS split
           |FROM x ORDER BY doc_id""".stripMargin,

      // ----- round 7: event-time + corpus additions -----
      "events_time_split" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
          |SELECT CASE WHEN us < 1705795200000000 THEN 'train'
          |            WHEN us < 1705968000000000 THEN 'embargo'
          |            ELSE 'test' END AS split,
          | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
          | MIN(us) AS min_us, MAX(us) AS max_us
          |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
      "events_burst" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          |w AS (SELECT user_id, COUNT(*) OVER (PARTITION BY user_id ORDER BY us
          |      RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS w_n FROM e)
          |SELECT user_id, COUNT(*) AS n_events, MAX(w_n) AS max_burst,
          | MAX(w_n) >= 2 AS bursty
          |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
      "events_gap_stats" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          |g AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
          |      FROM e),
          |gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
          |r AS (SELECT user_id, gap,
          |      row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
          |      COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM gg)
          |SELECT user_id, COUNT(*) AS n_gaps, MAX(gap) AS max_gap,
          | CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_gap,
          | MAX(CASE WHEN rn = (cnt + 1) // 2 THEN gap END) AS med_gap,
          | MAX(CASE WHEN rn = (9 * cnt + 9) // 10 THEN gap END) AS p90_gap
          |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
      "events_churn" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          |l AS (SELECT user_id, MAX(us) AS last_us, COUNT(*) AS n_events FROM e GROUP BY user_id),
          |m AS (SELECT MAX(us) AS mx FROM e)
          |SELECT user_id, last_us, n_events, m.mx - last_us > 604800000000 AS churned
          |FROM l, m ORDER BY user_id""".stripMargin,
      "events_interval_overlap" ->
        """WITH iv AS (SELECT unnest(range(0, 50)) AS interval_id),
          |win AS (SELECT interval_id, 1704067200000000 + interval_id * 50400000000 AS s_us,
          |        1704067200000000 + interval_id * 50400000000 + 75600000000 AS e_us FROM iv),
          |sp0 AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
          |        epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e
          |        FROM events WHERE user_id % 10 = 0),
          |t AS (SELECT user_id, s, e,
          |      MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
          |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          |      FROM sp0),
          |t2 AS (SELECT user_id, s, e,
          |       SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END) OVER
          |        (PARTITION BY user_id ORDER BY s, e
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          |       FROM t),
          |sp AS (SELECT user_id, MIN(s) AS s, MAX(e) AS e FROM t2 GROUP BY user_id, island)
          |SELECT w.interval_id, COUNT(*) AS n_spans, COUNT(DISTINCT sp.user_id) AS n_users
          |FROM win w JOIN sp ON w.s_us < sp.e AND sp.s < w.e_us
          |GROUP BY w.interval_id ORDER BY w.interval_id""".stripMargin,
      "events_rolling_distinct" ->
        """WITH uw AS (SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, user_id
          |            FROM events),
          |d AS (SELECT DISTINCT day FROM uw)
          |SELECT d.day, COUNT(DISTINCT uw.user_id) AS exact7, TRUE AS ok
          |FROM d JOIN uw ON uw.day BETWEEN d.day - 6 AND d.day
          |GROUP BY d.day ORDER BY d.day""".stripMargin,
      "quality_oov" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |v AS (SELECT token FROM (SELECT token, CAST(SUM(tf) AS BIGINT) AS tf FROM f GROUP BY token)
           |      ORDER BY tf DESC, token LIMIT 20),
           |nt AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens FROM f GROUP BY doc_id),
           |no AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_oov FROM f
           |       WHERE token NOT IN (SELECT token FROM v) GROUP BY doc_id)
           |SELECT nt.doc_id, nt.n_tokens, COALESCE(no.n_oov, 0) AS n_oov,
           | CAST(COALESCE(no.n_oov, 0) AS DOUBLE) / nt.n_tokens AS oov_rate
           |FROM nt LEFT JOIN no ON nt.doc_id = no.doc_id ORDER BY nt.doc_id""".stripMargin,
      "dedup_source_matrix" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS (SELECT a_id, b_id
           |      FROM ji
           |      WHERE $jaccard >= 0.7)
           |SELECT least(da.source, db.source) AS src_lo,
           | greatest(da.source, db.source) AS src_hi, COUNT(*) AS n_pairs
           |FROM p JOIN documents da ON da.doc_id = p.a_id
           |       JOIN documents db ON db.doc_id = p.b_id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "text_zipf" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token) GROUP BY token),
           |r AS (SELECT token, tf,
           |      row_number() OVER (ORDER BY tf DESC, token) AS rank,
           |      CAST(SUM(tf) OVER (ORDER BY tf DESC, token
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tf,
           |      CAST(SUM(tf) OVER () AS BIGINT) AS total FROM f)
           |SELECT rank, token, tf, CAST(cum_tf AS DOUBLE) / total AS cum_share
           |FROM r ORDER BY rank""".stripMargin,
      "vec_norm_audit" ->
        """WITH n AS (SELECT vec_id,
          | sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
          |   (a, b) -> a + b)) AS norm
          | FROM embeddings),
          |b AS (SELECT CASE WHEN norm = 0.0 THEN 'zero' WHEN norm < 0.5 THEN 'small'
          |             WHEN norm <= 2.0 THEN 'unit' ELSE 'large' END AS bucket, norm FROM n)
          |SELECT bucket, COUNT(*) AS n, MIN(norm) AS min_norm, MAX(norm) AS max_norm
          |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
      "events_ewma" -> {
        // weights 2^-k as exact decimal literals (each parses to the
        // exact power-of-two double; v·2^-k is then an exact FP product)
        def w(k: Int) =
          java.math.BigDecimal.ONE.divide(new java.math.BigDecimal(2).pow(k)).toPlainString
        val num = (0 until 16)
          .map(k => s"COALESCE(lag(value, $k) OVER win * ${w(k)}, 0.0)").mkString(" + ")
        val den = (0 until 16)
          .map(k => s"(CASE WHEN lag(value, $k) OVER win IS NOT NULL THEN ${w(k)} ELSE 0.0 END)")
          .mkString(" + ")
        s"""WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
           |           FROM events),
           |x AS (SELECT user_id, us, ($num) / ($den) AS ewma16,
           |      row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
           |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id))
           |SELECT user_id, us AS last_us, ewma16 FROM x WHERE rn = 1 ORDER BY user_id""".stripMargin
      },
      "events_anomaly" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          |           CAST(value AS DECIMAL(18,2)) AS vd FROM events),
          |w AS (SELECT user_id, event_id, us,
          |      CAST(CAST(SUM(vd) OVER win AS DECIMAL(38,2)) AS DOUBLE) AS s1,
          |      CAST(CAST(SUM(CAST(vd * vd AS DECIMAL(37,4))) OVER win AS DECIMAL(38,4)) AS DOUBLE) AS s2,
          |      CAST(COUNT(*) OVER win AS DOUBLE) AS n, CAST(vd AS DOUBLE) AS v
          |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
          |        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
          |x AS (SELECT user_id, event_id, us, n,
          |      (v - s1 / n) / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 1e-12)) AS z FROM w)
          |SELECT user_id, event_id, us AS ts_us, z FROM x
          |WHERE n >= 10 AND abs(z) > 2.0 ORDER BY user_id, ts_us, event_id""".stripMargin,
      "events_dwell" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
          |           FROM events),
          |t AS (SELECT event_type, lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
          |      AS dwell FROM e)
          |SELECT event_type, COUNT(*) AS n_spans, CAST(SUM(dwell) AS BIGINT) AS total_dwell_us,
          | MAX(dwell) AS max_dwell_us
          |FROM t WHERE dwell IS NOT NULL GROUP BY event_type ORDER BY event_type""".stripMargin,
      "events_transitions" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
          |           FROM events),
          |t AS (SELECT event_type AS to_type,
          |      lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type
          |      FROM e),
          |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM t WHERE from_type IS NOT NULL
          |      GROUP BY 1, 2)
          |SELECT from_type, to_type, n,
          | CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
          |FROM c ORDER BY from_type, to_type""".stripMargin,
      "text_ngram_novelty" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(${shingles("tk", 3)})) AS g FROM t),
           |f AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY g) AS first_doc FROM sh)
           |SELECT doc_id, COUNT(*) AS n_grams,
           | CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           | CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
           |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "vec_power_iteration" ->
        """WITH x AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS x
          |           FROM embeddings),
          |v00 AS (SELECT x FROM x ORDER BY vec_id LIMIT 1),
          |v0 AS (SELECT list_transform(x, e -> e / n0) AS v0
          |       FROM (SELECT x, sqrt(list_reduce(list_transform(x, e -> e * e), (a, b) -> a + b)) AS n0
          |             FROM v00)),
          |yy AS (SELECT x.x AS x,
          |       list_reduce(list_transform(list_zip(x.x, v0.v0), p -> p[1] * p[2]), (a, b) -> a + b) AS y
          |       FROM x CROSS JOIN v0),
          |dims AS (SELECT unnest(range(0, (SELECT len(x) FROM v00))) AS j),
          |c AS (SELECT d.j AS j,
          |      CAST(CAST(SUM(CAST(yy.x[d.j + 1] * yy.y AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS DOUBLE) AS vj
          |      FROM yy CROSS JOIN dims d GROUP BY d.j),
          |v1 AS (SELECT list(vj ORDER BY j) AS v1 FROM c),
          |fin AS (SELECT v1, sqrt(list_reduce(list_transform(v1, e -> e * e), (a, b) -> a + b)) AS norm
          |        FROM v1)
          |SELECT CAST(len(v1) AS BIGINT) AS dim, norm AS lambda_est,
          | v1[1] / norm AS c0, v1[2] / norm AS c1, v1[3] / norm AS c2, v1[4] / norm AS c3
          |FROM fin""".stripMargin,
      "text_langid_eval" ->
        s"""WITH sc AS (SELECT doc_id, lang,
           |  ${sL("en")} AS s_en, ${sL("de")} AS s_de, ${sL("es")} AS s_es,
           |  ${sL("fr")} AS s_fr, ${sL("zh")} AS s_zh
           | FROM documents),
           |g AS (SELECT lang,
           | CASE
           |  WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           |  WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
           |  WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
           |  WHEN s_fr > 0 AND s_fr >= s_zh THEN 'fr'
           |  WHEN s_zh > 0 THEN 'zh'
           |  ELSE 'und' END AS lang_guess
           | FROM sc),
           |c AS (SELECT lang, lang_guess, COUNT(*) AS n FROM g GROUP BY 1, 2)
           |SELECT lang, lang_guess, n,
           | CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS recall
           |FROM c ORDER BY lang, lang_guess""".stripMargin,
      "data_profile" -> {
        def prof(c: String, minmax: Boolean, dateCol: Boolean = false) = {
          val mn =
            if (dateCol) s"CAST(MIN(datediff('day', DATE '1970-01-01', $c)) AS DOUBLE)"
            else if (minmax) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val mx =
            if (dateCol) s"CAST(MAX(datediff('day', DATE '1970-01-01', $c)) AS DOUBLE)"
            else if (minmax) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
             | CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             | COUNT(DISTINCT $c) AS n_distinct, $mn AS min_d, $mx AS max_d
             |FROM lineitem""".stripMargin
        }
        Seq(prof("l_quantity", minmax = true), prof("l_discount", minmax = true),
          prof("l_shipdate", minmax = false, dateCol = true),
          prof("l_returnflag", minmax = false))
          .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      },
      "events_heatmap" ->
        """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events)
          |SELECT (us // 86400000000 + 4) % 7 AS dow, (us % 86400000000) // 3600000000 AS hour,
          | COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "events_late_audit" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          |w AS (SELECT user_id, us,
          |      MAX(us) OVER (PARTITION BY user_id ORDER BY event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS frontier FROM e)
          |SELECT user_id, COUNT(*) AS n_events,
          | CAST(SUM(CASE WHEN frontier IS NOT NULL AND us < frontier - 600000000
          |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
          | CAST(SUM(CASE WHEN frontier IS NOT NULL AND us < frontier - 600000000
          |       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS late_rate
          |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
      "data_forget" ->
        """WITH f AS (SELECT c_custkey FROM customer WHERE c_custkey % 17 = 3)
          |SELECT 'customer' AS table_name, (SELECT COUNT(*) FROM customer) AS rows_before,
          | (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM f)) AS rows_after,
          | (SELECT COUNT(*) FROM customer) -
          | (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM f)) AS rows_dropped
          |UNION ALL
          |SELECT 'events', (SELECT COUNT(*) FROM events),
          | (SELECT COUNT(*) FROM events WHERE user_id % 17 <> 3),
          | (SELECT COUNT(*) FROM events) - (SELECT COUNT(*) FROM events WHERE user_id % 17 <> 3)
          |UNION ALL
          |SELECT 'orders', (SELECT COUNT(*) FROM orders),
          | (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM f)),
          | (SELECT COUNT(*) FROM orders) -
          | (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM f))
          |ORDER BY table_name""".stripMargin,
      "events_sequences" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
          |           FROM events),
          |t AS (SELECT event_type AS t3,
          |      lag(event_type, 2) OVER win AS t1, lag(event_type, 1) OVER win AS t2
          |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id))
          |SELECT t1, t2, t3, COUNT(*) AS n FROM t WHERE t1 IS NOT NULL
          |GROUP BY t1, t2, t3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
      "data_contrastive_pairs" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |pos AS (SELECT a_id, b_id, 1 AS label
           |        FROM ji
           |        WHERE $jaccard >= 0.7),
           |h AS (SELECT doc_id, md5('neg:' || CAST(doc_id AS VARCHAR)) AS hh FROM documents),
           |r AS (SELECT doc_id, lead(doc_id) OVER
           |      (PARTITION BY substr(hh, 1, 1) ORDER BY hh, doc_id) AS nb FROM h),
           |neg AS (SELECT least(doc_id, nb) AS a_id, greatest(doc_id, nb) AS b_id, 0 AS label
           |        FROM r WHERE nb IS NOT NULL
           |        AND NOT EXISTS (SELECT 1 FROM pos p
           |             WHERE p.a_id = least(doc_id, nb) AND p.b_id = greatest(doc_id, nb)))
           |SELECT a_id, b_id, label FROM pos
           |UNION ALL SELECT a_id, b_id, label FROM neg
           |ORDER BY label, a_id, b_id""".stripMargin,
      "text_readability" ->
        s"""WITH f AS (SELECT doc_id,
           | CAST(len(list_filter(string_split_regex(text, '[.!?]'), x -> len(trim(x)) > 0)) AS BIGINT) AS n_sentences,
           | CAST(len($toks) AS BIGINT) AS n_words,
           | CAST(list_reduce(list_prepend(0, list_transform($toks, x -> len(x))), (a, b) -> a + b) AS BIGINT) AS n_chars
           | FROM documents)
           |SELECT doc_id, n_sentences, n_words, n_chars,
           | CAST(n_words AS DOUBLE) / greatest(n_sentences, 1) AS words_per_sentence,
           | CAST(n_chars AS DOUBLE) / greatest(n_words, 1) AS chars_per_word
           |FROM f ORDER BY doc_id""".stripMargin,
      "data_label_balance" ->
        """WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
          |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_classes FROM c)
          |SELECT label, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
          | CAST(total AS DOUBLE) / CAST(n_classes * n AS DOUBLE) AS class_weight
          |FROM c, t ORDER BY label""".stripMargin,
      "events_pareto" ->
        """WITH uc AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
          |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM uc),
          |r AS (SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id) AS rank,
          |      CAST(SUM(n) OVER (ORDER BY n DESC, user_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
          |      FROM uc)
          |SELECT rank, user_id, n, CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
          |FROM r, t ORDER BY rank""".stripMargin,
      "events_wow_change" ->
        """WITH wk AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week,
          |  COUNT(*) AS n_events,
          |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_value
          |  FROM events GROUP BY 1)
          |SELECT week, n_events, sum_value,
          | CAST(n_events - lag(n_events) OVER (ORDER BY week) AS DOUBLE)
          |  / CAST(lag(n_events) OVER (ORDER BY week) AS DOUBLE) AS wow_events_pct
          |FROM wk ORDER BY week""".stripMargin,
      "events_streaks" ->
        """WITH ud AS (SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          |            FROM events),
          |g AS (SELECT user_id, day,
          |      day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM ud),
          |st AS (SELECT user_id, grp, COUNT(*) AS streak FROM g GROUP BY user_id, grp)
          |SELECT user_id, CAST(SUM(streak) AS BIGINT) AS n_active_days, MAX(streak) AS max_streak
          |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q39_basket_affinity" ->
        """WITH o AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
          |      FROM o a JOIN o b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
          |SELECT part_a, part_b, COUNT(*) AS n_orders FROM p
          |GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 25""".stripMargin,
      "q38_keyset_pagination" ->
        """SELECT l_orderkey, l_linenumber, l_quantity,
          | datediff('day', DATE '1970-01-01', l_shipdate) AS ship_day FROM lineitem
          |WHERE l_orderkey > 1000 OR (l_orderkey = 1000 AND l_linenumber > 2)
          |ORDER BY l_orderkey, l_linenumber, l_quantity, ship_day LIMIT 100""".stripMargin,
      "dedup_threshold_sweep" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS (SELECT a_id, b_id,
           |      ROUND($jaccard, 4) AS j
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |pb AS (SELECT CASE WHEN j >= 0.9 THEN '0.9' WHEN j >= 0.8 THEN '0.8' ELSE '0.7' END AS band,
           |       a_id, b_id FROM p),
           |e AS (SELECT band, a_id AS doc FROM pb UNION ALL SELECT band, b_id AS doc FROM pb)
           |SELECT band, CAST(COUNT(*) / 2 AS BIGINT) AS n_pairs, COUNT(DISTINCT doc) AS n_docs
           |FROM e GROUP BY band ORDER BY band""".stripMargin,
      "q40_rfm" ->
        """WITH pc AS (SELECT o_custkey AS custkey,
          |  MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS last_day,
          |  COUNT(*) AS f_orders,
          |  CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS m_total
          |  FROM orders GROUP BY 1),
          |mx AS (SELECT MAX(last_day) AS max_day FROM pc),
          |q AS (SELECT custkey, CAST(max_day - last_day AS BIGINT) AS r_days, f_orders, m_total,
          |  ntile(4) OVER (ORDER BY max_day - last_day ASC, custkey ASC) AS r_q,
          |  ntile(4) OVER (ORDER BY f_orders DESC, custkey ASC) AS f_q,
          |  ntile(4) OVER (ORDER BY m_total DESC, custkey ASC) AS m_q
          |  FROM pc, mx)
          |SELECT custkey, r_days, f_orders, m_total, r_q, f_q, m_q,
          | CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR) AS segment
          |FROM q ORDER BY custkey""".stripMargin,
      "events_trend" ->
        """WITH daily AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  COUNT(*) AS y FROM events GROUP BY 1, 2),
          |m AS (SELECT user_id, COUNT(*) AS n, CAST(SUM(day) AS BIGINT) AS sx,
          |  CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(day * y) AS BIGINT) AS sxy,
          |  CAST(SUM(day * day) AS BIGINT) AS sxx
          |  FROM daily GROUP BY user_id HAVING COUNT(*) >= 2)
          |SELECT user_id, n, n * sxy - sx * sy AS slope_num, n * sxx - sx * sx AS slope_den,
          | CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
          |FROM m ORDER BY user_id""".stripMargin,
      "data_kanonymity" ->
        """SELECT c_mktsegment AS segment, CAST(c_nationkey AS BIGINT) AS nation,
          | CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band, COUNT(*) AS n,
          | COUNT(*) < 5 AS at_risk
          |FROM customer GROUP BY 1, 2, 3 ORDER BY segment, nation, bal_band""".stripMargin,
      "text_fertility" ->
        s"""WITH t AS (SELECT lang, n_chars, len($toks) AS n_toks FROM documents)
           |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
           | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           | CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_toks) AS DOUBLE) AS chars_per_token,
           | CAST(SUM(n_toks) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS tokens_per_doc
           |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
      "graph_triangles" ->
        """WITH o AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
          |      FROM o a JOIN o b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |deg AS (SELECT node, COUNT(*) AS d
          |        FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) GROUP BY node),
          |t AS (SELECT COUNT(*) AS n_triangles
          |      FROM e ab JOIN e bc ON ab.b = bc.a JOIN e ac ON ac.a = ab.a AND ac.b = bc.b)
          |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
          | (SELECT COUNT(*) FROM e) AS n_edges,
          | (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
          | n_triangles,
          | 3.0 * n_triangles / (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg)
          |   AS global_clustering
          |FROM t""".stripMargin,
      "q41_hotkey_join" ->
        s"""SELECT o_orderpriority, COUNT(*) AS n, $revenue AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "text_heavy_tokens" ->
        s"""WITH t AS (SELECT unnest($toks) AS tok FROM documents),
           |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
           |s AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
           |SELECT tok, n FROM c, s WHERE n * 200 > total ORDER BY tok""".stripMargin,
      "vec_centroid_affinity" ->
        // the per-component 9-dp quantization is spelled as EXACT
        // half-up integer nanos, not CAST(x AS DECIMAL(18,9)): DuckDB's
        // double→decimal cast rounds ties half-EVEN while Spark's Cast
        // rounds HALF_UP, and float32 values of the form odd/2¹⁰ are
        // exact 9-dp ties (sf0.1 gate catch, round 13: x = 153/1024 =
        // 0.1494140625 → Spark …63, DuckDB …62, one sx off by 1e-9 and
        // every downstream dot/cosine off by ~1e-13). x·1e9 is exactly
        // representable for any float32 (m·5⁹·2^(9−k) < 2⁵³), so the
        // floor(±·+0.5) form is the exact HALF_UP, no FP misround.
        """WITH pe AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
          |  unnest(embedding) AS x FROM embeddings),
          |m AS (SELECT label, pos,
          |  CAST(SUM(CAST(CASE WHEN CAST(x AS DOUBLE) >= 0
          |      THEN floor(CAST(x AS DOUBLE) * 1e9 + 5e-1)
          |      ELSE -floor(-CAST(x AS DOUBLE) * 1e9 + 5e-1) END AS BIGINT)
          |    * CAST('0.000000001' AS DECIMAL(18,9))) AS DECIMAL(18,9)) AS sx,
          |  COUNT(*) AS nv
          |  FROM pe GROUP BY label, pos),
          |n AS (SELECT label,
          |  CAST(CAST(CAST(SUM(sx * sx) AS DECIMAL(38,18)) AS VARCHAR) AS DOUBLE) AS norm2,
          |  MAX(nv) AS nv FROM m GROUP BY label),
          |p AS (SELECT a.label AS label_a, b.label AS label_b,
          |  CAST(CAST(CAST(SUM(a.sx * b.sx) AS DECIMAL(38,18)) AS VARCHAR) AS DOUBLE) AS dotsum
          |  FROM m a JOIN m b ON a.pos = b.pos AND a.label < b.label GROUP BY 1, 2)
          |SELECT label_a, label_b,
          | dotsum / CAST(na.nv * nb.nv AS DOUBLE) AS dot,
          | dotsum / (sqrt(na.norm2) * sqrt(nb.norm2)) AS cosine
          |FROM p JOIN n na ON na.label = label_a JOIN n nb ON nb.label = label_b
          |ORDER BY label_a, label_b""".stripMargin,
      "events_ohlc" ->
        """SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
          | COUNT(*) AS n,
          | first(value ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS open,
          | last(value ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS close,
          | MAX(value) AS high, MIN(value) AS low
          |FROM events GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin,
      "data_dense_ids" ->
        """SELECT doc_id, n_chars,
          | CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS dense_id
          |FROM documents ORDER BY dense_id""".stripMargin,
      "events_attribution" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
          |  event_type, CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
          |  FROM events),
          |w AS (SELECT event_id, user_id, ts_us, event_type,
          |  last_value(touch IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
          |  first_value(touch IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
          |  COUNT(touch) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_touches
          |  FROM e)
          |SELECT event_id, user_id, ts_us, first_touch, last_touch, n_touches
          |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
      "data_fk_audit" -> {
        def edge(child: String, fk: String, parent: String, pk: String) =
          s"""SELECT '$child.$fk->$parent.$pk' AS fk,
             | (SELECT CAST(COUNT(*) AS BIGINT) FROM $child WHERE $fk IS NOT NULL) AS n_rows,
             | (SELECT CAST(COUNT(*) AS BIGINT) FROM $child c
             |    LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p ON c.$fk = p.$pk
             |  WHERE c.$fk IS NOT NULL AND p.$pk IS NULL) AS n_orphans""".stripMargin
        Seq(
          edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
          edge("lineitem", "l_partkey", "part", "p_partkey"),
          edge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
          edge("orders", "o_custkey", "customer", "c_custkey"),
          edge("customer", "c_nationkey", "nation", "n_nationkey"),
          edge("supplier", "s_nationkey", "nation", "n_nationkey"),
          edge("nation", "n_regionkey", "region", "r_regionkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
      },
      "quality_model_auc" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |b AS (SELECT doc_id,
           |      CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket, tf
           |      FROM f),
           |fb AS (SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf FROM b GROUP BY doc_id, bucket),
           |w AS (SELECT doc_id, tf,
           |      CAST(('0x' || substr(md5('w:' || bucket::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
           |      FROM fb),
           |sc AS (SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS s FROM w GROUP BY doc_id),
           |lab AS (SELECT d.source, sc.s, (d.lang = 'en') AS pos
           |        FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
           |cnt AS (SELECT source, s, COUNT(*) FILTER (pos) AS p, COUNT(*) FILTER (NOT pos) AS q
           |        FROM lab GROUP BY source, s),
           |cum AS (SELECT source, p, q,
           |        COALESCE(SUM(q) OVER (PARTITION BY source ORDER BY s
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS q_below
           |        FROM cnt),
           |agg AS (SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(q) AS BIGINT) AS n_neg,
           |        SUM(CAST(p AS HUGEINT) * 2 * CAST(q_below AS HUGEINT)
           |            + CAST(p AS HUGEINT) * CAST(q AS HUGEINT)) AS num2
           |        FROM cum GROUP BY source)
           |SELECT source, n_pos, n_neg,
           | CAST(CAST(num2 AS VARCHAR) AS DOUBLE)
           |  / CAST(CAST(CAST(n_pos AS HUGEINT) * 2 * CAST(n_neg AS HUGEINT) AS VARCHAR) AS DOUBLE) AS auc
           |FROM agg ORDER BY source""".stripMargin,
      "data_ks_drift" ->
        """WITH cnt AS (SELECT source AS slice, n_chars AS v, COUNT(*) AS c
          |             FROM documents GROUP BY 1, 2),
          |grid AS (SELECT v, SUM(SUM(c)) OVER (ORDER BY v
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
          |         FROM cnt GROUP BY v),
          |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM cnt),
          |sl AS (SELECT slice, CAST(SUM(c) AS BIGINT) AS n_s FROM cnt GROUP BY slice),
          |ex AS (SELECT sl.slice, sl.n_s, grid.v, grid.cum_all,
          |         COALESCE(SUM(COALESCE(cnt.c, 0)) OVER (PARTITION BY sl.slice ORDER BY grid.v
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cum_s
          |       FROM sl CROSS JOIN grid
          |       LEFT JOIN cnt ON cnt.slice = sl.slice AND cnt.v = grid.v),
          |d AS (SELECT slice, n_s,
          |        abs(CAST(cum_s AS HUGEINT) * (SELECT n_all FROM tot)
          |            - CAST(cum_all AS HUGEINT) * n_s) AS diff
          |      FROM ex)
          |SELECT slice, n_s AS n,
          | CAST(CAST(MAX(diff) AS VARCHAR) AS DOUBLE)
          |  / CAST(CAST(CAST(n_s AS HUGEINT) * (SELECT n_all FROM tot) AS VARCHAR) AS DOUBLE) AS ks
          |FROM d GROUP BY slice, n_s ORDER BY slice""".stripMargin,
      "q42_moments" ->
        """WITH c AS (SELECT o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
          |           FROM orders),
          |mo AS (SELECT o_orderstatus, COUNT(c) AS n,
          |       CAST(CAST(SUM(c) AS VARCHAR) AS DOUBLE) AS s1,
          |       CAST(CAST(SUM(c*c) AS VARCHAR) AS DOUBLE) AS s2,
          |       CAST(CAST(SUM(c*c*c) AS VARCHAR) AS DOUBLE) AS s3,
          |       CAST(CAST(SUM(c*c*c*c) AS VARCHAR) AS DOUBLE) AS s4
          |       FROM c GROUP BY o_orderstatus),
          |mm AS (SELECT o_orderstatus, n,
          |       s2 / n - (s1 / n) * (s1 / n) AS m2,
          |       s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
          |       s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n) - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
          |       FROM mo)
          |SELECT o_orderstatus, n,
          | m3 / (m2 * sqrt(m2)) AS skewness,
          | m4 / (m2 * m2) - 3.0 AS kurtosis_excess
          |FROM mm ORDER BY o_orderstatus""".stripMargin,
      "events_quantile_sketch" ->
        """SELECT (SELECT COUNT(*) FROM events) AS n,
          | true AS p50_ok, true AS p90_ok, true AS p99_ok""".stripMargin,
      "events_cms_check" ->
        """SELECT CAST(10 AS BIGINT) AS n_probes,
          | (SELECT COUNT(user_id) FROM events) AS n,
          | true AS lower_ok, true AS upper_ok""".stripMargin,
      "maint_join_view" ->
        """SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "data_oversample" ->
        """WITH h AS (SELECT label, COUNT(*) AS n_before FROM embeddings GROUP BY label),
          |m AS (SELECT MAX(n_before) AS max_n FROM h),
          |f AS (SELECT label, n_before,
          |  CAST(ceil(CAST(max_n AS DOUBLE) / CAST(n_before AS DOUBLE)) AS INT) AS factor
          |  FROM h, m)
          |SELECT label, n_before, factor, CAST(n_before * factor AS BIGINT) AS n_after
          |FROM f ORDER BY label""".stripMargin,
      "text_vocab_coverage" ->
        s"""WITH tok AS (SELECT unnest($toks) AS tok FROM documents),
           |c AS (SELECT tok, COUNT(*) AS c FROM tok WHERE tok <> '' GROUP BY tok),
           |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk,
           |  SUM(c) OVER (ORDER BY c DESC, tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM c),
           |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_occ, CAST(COUNT(*) AS BIGINT) AS n_vocab FROM c)
           |SELECT CAST(rk AS INT) AS vocab_size, n_vocab,
           | CAST(cum AS DOUBLE) / CAST(n_occ AS DOUBLE) AS coverage
           |FROM r, t WHERE rk IN (5, 10, 20, 30) ORDER BY vocab_size""".stripMargin,
      "q47_setops_all" ->
        """WITH hi AS (SELECT c_nationkey FROM customer WHERE c_acctbal >= 0),
          |lo AS (SELECT c_nationkey FROM customer WHERE c_acctbal < 0),
          |ia AS (SELECT c_nationkey FROM hi INTERSECT ALL SELECT c_nationkey FROM lo),
          |ea AS (SELECT c_nationkey FROM hi EXCEPT ALL SELECT c_nationkey FROM lo)
          |SELECT * FROM (
          |  SELECT 'intersect_all' AS op, CAST(c_nationkey AS BIGINT) AS nation, COUNT(*) AS n
          |  FROM ia GROUP BY 2
          |  UNION ALL
          |  SELECT 'except_all', CAST(c_nationkey AS BIGINT), COUNT(*) FROM ea GROUP BY 2)
          |ORDER BY op, nation""".stripMargin,
      "events_quantile_by_type" ->
        """SELECT event_type, COUNT(*) AS n, true AS p50_ok
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "pipeline_schema_evolution" ->
        """SELECT COUNT(*) AS n_rows,
          | CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old_layout,
          | CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new_layout
          |FROM orders""".stripMargin,
      "vec_pq" ->
        """WITH idx AS (SELECT t1.range AS j, t2.range AS c, t3.range AS k
          |  FROM range(8) t1, range(16) t2, range(8) t3),
          |ct AS (SELECT j, c, k,
          |  (CAST(('0x' || substr(md5('pq:' || j || ':' || c || ':' || k), 1, 8)) AS BIGINT)
          |    % 2001 - 1000) / 1000.0 AS cent FROM idx),
          |cl AS (SELECT j, c, list(cent ORDER BY k) AS cl FROM ct GROUP BY j, c),
          |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |      FROM embeddings),
          |dist AS (SELECT vec_id, j, c,
          |  list_reduce(list_transform(range(1, 9), k ->
          |    (v[CAST(j*8 + k AS INT)] - cl[CAST(k AS INT)])
          |      * (v[CAST(j*8 + k AS INT)] - cl[CAST(k AS INT)])), (x, y) -> x + y) AS dst
          |  FROM e CROSS JOIN cl),
          |best AS (SELECT vec_id, j, c, dst,
          |  row_number() OVER (PARTITION BY vec_id, j ORDER BY dst, c) AS rk FROM dist)
          |SELECT vec_id, CAST(j AS INT) AS sub_j, CAST(c AS INT) AS code, dst AS qerr
          |FROM best WHERE rk = 1 ORDER BY vec_id, sub_j""".stripMargin,
      "q46_equidepth" ->
        """WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          |           FROM orders),
          |c AS (SELECT v, COUNT(*) AS c FROM v GROUP BY v),
          |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
          |g AS (SELECT v, c,
          |  COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS cum_before FROM c),
          |b AS (SELECT CAST((cum_before * 10) // n AS INT) AS bucket, v, c FROM g, t)
          |SELECT bucket, MIN(v) AS lo_cents, MAX(v) AS hi_cents, CAST(SUM(c) AS BIGINT) AS n_rows
          |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
      "data_kanon_suppress" ->
        """WITH cust AS (SELECT c_custkey, c_mktsegment AS segment,
          |  CAST(c_nationkey AS BIGINT) AS nation,
          |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band FROM customer),
          |cl AS (SELECT segment, nation, bal_band, COUNT(*) AS n FROM cust GROUP BY 1, 2, 3)
          |SELECT c_custkey,
          | CASE WHEN n >= 5 THEN cust.segment ELSE '*' END AS segment_out,
          | CASE WHEN n >= 5 THEN cust.nation ELSE -1 END AS nation_out,
          | CASE WHEN n >= 5 THEN cust.bal_band ELSE -1 END AS band_out,
          | n < 5 AS suppressed
          |FROM cust JOIN cl ON cust.segment = cl.segment AND cust.nation = cl.nation
          |  AND cust.bal_band = cl.bal_band
          |ORDER BY c_custkey""".stripMargin,
      "data_dp_release" ->
        // replay the deterministic Laplace release: identical md5 seed
        // strings, identical uniform construction ((hash32+0.5)/2^32, never
        // exactly 0.5), identical clip/scale constants, noise rounded to 6
        // on both sides before the add (ln may differ by 1 ulp between
        // engines; round-6 absorbs it)
        """WITH g AS (
          |  SELECT c_mktsegment AS segment, COUNT(*) AS n_true,
          |   SUM(LEAST(GREATEST(CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT), -100000), 100000)) AS s_true
          |  FROM customer GROUP BY 1),
          |u AS (
          |  SELECT segment, n_true, s_true,
          |   (CAST(('0x' || substr(md5('rel-2026-08:count:' || segment), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS cc,
          |   (CAST(('0x' || substr(md5('rel-2026-08:sum:' || segment), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS cs
          |  FROM g)
          |SELECT segment,
          | ROUND(CAST(n_true AS DOUBLE) + ROUND(-2.0 * sign(cc) * ln(1.0 - 2.0*abs(cc)), 6), 6) AS noisy_count,
          | ROUND(CAST(s_true AS DOUBLE) + ROUND(-200000.0 * sign(cs) * ln(1.0 - 2.0*abs(cs)), 6), 6) AS noisy_sum,
          | 0.5 AS eps_count, 0.5 AS eps_sum, 1.0 AS eps_total
          |FROM u ORDER BY segment""".stripMargin,
      "text_span_scrub" ->
        // replay the exact-substring scrub: positioned 8-grams, min-id
        // owner, covered-position expand, ordered rebuild of survivors
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |m AS (SELECT doc_id, tk, len(tk) AS n_tokens FROM t),
           |ngu AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
           |          i -> {'i': i, 's': array_to_string(tk[i:i+7], ' ')})) AS u
           |        FROM m WHERE n_tokens >= 8),
           |ng AS (SELECT doc_id, u.i AS i, u.s AS s FROM ngu),
           |own AS (SELECT s, MIN(doc_id) AS owner FROM ng GROUP BY s),
           |dup AS (SELECT ng.doc_id, ng.i FROM ng JOIN own USING (s) WHERE owner < ng.doc_id),
           |cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS p FROM dup),
           |posu AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
           |          q -> {'p': q, 'tok': tk[q]})) AS u FROM m),
           |pos AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM posu),
           |kept AS (SELECT pos.doc_id, COUNT(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY pos.p) AS txt
           |         FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
           |         WHERE cov.p IS NULL GROUP BY pos.doc_id)
           |SELECT m.doc_id, m.n_tokens,
           | m.n_tokens - COALESCE(kept.n_kept, 0) AS n_removed,
           | md5(COALESCE(kept.txt, '')) AS scrub_md5
           |FROM m LEFT JOIN kept USING (doc_id) ORDER BY m.doc_id""".stripMargin,
      "text_span_scrub_winnow" ->
        // replay the winnowing selection (the dedup_winnowing fragment,
        // WITH recovered positions this time), min-doc-id ownership of
        // each selected hash, k-extent coverage for non-owner
        // selections, ordered survivor rebuild (text_span_scrub's
        // rebuild idiom)
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |m AS (SELECT doc_id, tk, len(tk) AS n_tokens FROM t),
           |g0 AS (SELECT doc_id, CASE WHEN len(tk) <= 4 THEN [array_to_string(tk, ' ')]
           |        ELSE list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')) END AS gs
           |       FROM t),
           |gp AS (SELECT doc_id, unnest(list_transform(range(1, len(gs) + 1),
           |        i -> {'p': i - 1, 's': gs[i]})) AS u FROM g0),
           |ge AS (SELECT doc_id, u.p AS pos,
           |        CAST(('0x' || substr(md5(u.s), 1, 10)) AS BIGINT) * 2097152
           |          + (2097151 - u.p) AS key FROM gp),
           |sel AS (SELECT doc_id, pos,
           |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
           |         count(*) OVER (PARTITION BY doc_id) AS n_g
           |        FROM ge),
           |fp AS (SELECT DISTINCT doc_id, 2097151 - (sel % 2097152) AS fp_pos,
           |        sel // 2097152 AS fp_hash
           |       FROM sel WHERE pos <= greatest(n_g - 4, 0)),
           |own AS (SELECT fp_hash, MIN(doc_id) AS owner FROM fp GROUP BY fp_hash),
           |cov AS (SELECT DISTINCT f.doc_id, f.fp_pos + x.x AS p
           |        FROM fp f JOIN own USING (fp_hash)
           |        CROSS JOIN (SELECT unnest(range(0, 4)) AS x) x
           |        WHERE own.owner < f.doc_id),
           |posu AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
           |          q -> {'p': q - 1, 'tok': tk[q]})) AS u FROM m),
           |pos AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM posu),
           |kept AS (SELECT pos.doc_id, COUNT(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY pos.p) AS txt
           |         FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
           |         WHERE cov.p IS NULL GROUP BY pos.doc_id)
           |SELECT m.doc_id, m.n_tokens,
           | m.n_tokens - COALESCE(kept.n_kept, 0) AS n_removed,
           | md5(COALESCE(kept.txt, '')) AS scrub_md5
           |FROM m LEFT JOIN kept USING (doc_id) ORDER BY m.doc_id""".stripMargin,
      "data_linkage" ->
        // replay the dirty-copy synthesis + blocked Fellegi–Sunter
        // scoring: all comparators and weights are integer (levenshtein
        // bound, equality, cents tolerance, basis-point log-odds), so
        // the score is an exact integer sum both engines agree on
        """WITH a AS (SELECT c_custkey AS a_id, c_name AS a_name,
          |  CAST(c_nationkey AS BIGINT) AS a_nation,
          |  CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT) AS a_cents,
          |  c_mktsegment AS a_seg, substr(c_name, 1, 16) AS blk FROM customer),
          |b AS (SELECT c_custkey + 1000000 AS b_id,
          |  CASE WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, 17) || 'x' ELSE c_name END AS b_name,
          |  CAST(c_nationkey AS BIGINT) AS b_nation,
          |  CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT)
          |    + CASE WHEN c_custkey % 3 = 0 THEN ((c_custkey % 7) - 3) * 37 ELSE 0 END AS b_cents,
          |  CASE WHEN c_custkey % 9 = 0 THEN reverse(c_mktsegment) ELSE c_mktsegment END AS b_seg,
          |  substr(c_name, 1, 16) AS blk FROM customer WHERE c_custkey % 3 <> 2),
          |p AS (SELECT a_id, b_id,
          |  levenshtein(a_name, b_name) <= 1 AS agree_name,
          |  a_nation = b_nation AS agree_nation,
          |  a_seg = b_seg AS agree_segment,
          |  abs(a_cents - b_cents) <= 100 AS agree_acct
          |  FROM a JOIN b USING (blk)),
          |s AS (SELECT *,
          |  (CASE WHEN agree_name THEN 994 ELSE -564 END
          |   + CASE WHEN agree_nation THEN 457 ELSE -426 END
          |   + CASE WHEN agree_segment THEN 217 ELSE -300 END
          |   + CASE WHEN agree_acct THEN 649 ELSE -330 END) AS sbp FROM p)
          |SELECT a_id, b_id, agree_name, agree_nation, agree_segment, agree_acct,
          | CAST(sbp AS BIGINT) AS score_bp,
          | CASE WHEN sbp >= 800 THEN 'match' WHEN sbp >= 0 THEN 'possible'
          |      ELSE 'nonmatch' END AS decision
          |FROM s WHERE sbp >= 0 ORDER BY a_id, b_id""".stripMargin,
      "data_entity_golden" ->
        // replay both dirty-copy syntheses + the FS match band, close
        // match pairs into entities (the reach closure pattern), then
        // the per-attribute majority vote with lexicographic-min ties
        // (numerics ride as digit strings, cast back)
        """WITH RECURSIVE
          |a AS (SELECT c_custkey AS a_id, c_name AS a_name,
          |  CAST(c_nationkey AS BIGINT) AS a_nation,
          |  CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT) AS a_cents,
          |  c_mktsegment AS a_seg, substr(c_name, 1, 17) AS blk FROM customer),
          |cp AS (SELECT c_custkey AS k, c_name, CAST(c_nationkey AS BIGINT) AS nation,
          |  CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT) AS cents,
          |  c_mktsegment AS seg, substr(c_name, 1, 17) AS blk
          |  FROM customer WHERE c_custkey % 3 <> 2),
          |b AS (SELECT k + 1000000 AS b_id,
          |  CASE WHEN k % 3 = 0 THEN substr(c_name, 1, 17) || 'x' ELSE c_name END AS b_name,
          |  nation AS b_nation,
          |  cents + CASE WHEN k % 3 = 0 THEN ((k % 7) - 3) * 37 ELSE 0 END AS b_cents,
          |  CASE WHEN k % 9 = 0 THEN reverse(seg) ELSE seg END AS b_seg, blk FROM cp),
          |c AS (SELECT k + 2000000 AS b_id,
          |  CASE WHEN k % 5 = 0 THEN substr(c_name, 1, 17) || 'x' ELSE c_name END AS b_name,
          |  nation AS b_nation,
          |  cents + CASE WHEN k % 5 = 0 THEN ((k % 11) - 5) * 23 ELSE 0 END AS b_cents,
          |  CASE WHEN k % 15 = 0 THEN reverse(seg) ELSE seg END AS b_seg, blk FROM cp),
          |bc AS (SELECT * FROM b UNION ALL SELECT * FROM c),
          |m AS (SELECT a_id, b_id FROM a JOIN bc USING (blk)
          |  WHERE (CASE WHEN levenshtein(a_name, b_name) <= 1 THEN 994 ELSE -564 END
          |   + CASE WHEN a_nation = b_nation THEN 457 ELSE -426 END
          |   + CASE WHEN a_seg = b_seg THEN 217 ELSE -300 END
          |   + CASE WHEN abs(a_cents - b_cents) <= 100 THEN 649 ELSE -330 END) >= 800),
          |e AS (SELECT a_id AS x, b_id AS y FROM m UNION ALL SELECT b_id, a_id FROM m),
          |reach(id, r) AS (
          | SELECT DISTINCT x AS id, x AS r FROM e
          | UNION
          | SELECT e.y AS id, reach.r AS r FROM reach JOIN e ON e.x = reach.id),
          |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          |recs AS (
          | SELECT a_id AS rec_id, a_name AS name, a_nation AS nation, a_cents AS cents, a_seg AS seg FROM a
          | UNION ALL SELECT b_id, b_name, b_nation, b_cents, b_seg FROM bc),
          |tagged AS (SELECT COALESCE(lab.cluster_id, recs.rec_id) AS entity_id, recs.*
          |           FROM recs LEFT JOIN lab ON lab.id = recs.rec_id),
          |stacked AS (SELECT entity_id, u.attr AS attr, u.v AS v FROM (
          | SELECT entity_id, unnest([
          |   {'attr': 'name', 'v': name},
          |   {'attr': 'nation', 'v': CAST(nation AS VARCHAR)},
          |   {'attr': 'cents', 'v': CAST(cents AS VARCHAR)},
          |   {'attr': 'seg', 'v': seg}]) AS u FROM tagged)),
          |cnt AS (SELECT entity_id, attr, v, COUNT(*) AS c FROM stacked GROUP BY 1, 2, 3),
          |pick AS (SELECT entity_id, attr, v,
          |  ROW_NUMBER() OVER (PARTITION BY entity_id, attr ORDER BY c DESC, v ASC) AS rk FROM cnt),
          |golden AS (SELECT entity_id,
          |  MAX(CASE WHEN attr = 'name' THEN v END) AS name,
          |  CAST(MAX(CASE WHEN attr = 'nation' THEN v END) AS BIGINT) AS nation,
          |  CAST(MAX(CASE WHEN attr = 'cents' THEN v END) AS BIGINT) AS cents,
          |  MAX(CASE WHEN attr = 'seg' THEN v END) AS seg
          | FROM pick WHERE rk = 1 GROUP BY entity_id),
          |sizes AS (SELECT entity_id, COUNT(*)::BIGINT AS n_records FROM tagged GROUP BY entity_id)
          |SELECT s2.entity_id, s2.n_records, g.name, g.nation, g.cents, g.seg
          |FROM sizes s2 JOIN golden g USING (entity_id)
          |ORDER BY s2.entity_id""".stripMargin,
      "data_local_dp" ->
        """WITH u AS (SELECT user_id,
          |  (SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15)::BIGINT AS truth
          | FROM events GROUP BY user_id),
          |r AS (SELECT truth,
          |  CASE WHEN CAST(('0x' || substr(md5('rr:' || CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
          |            < 70368744177664 THEN 1 - truth ELSE truth END AS report
          | FROM u)
          |SELECT COUNT(*)::BIGINT AS n_users, SUM(truth)::BIGINT AS n_true,
          | SUM(report)::BIGINT AS n_reported,
          | (4 * SUM(report) - COUNT(*))::BIGINT AS est_x2
          |FROM r""".stripMargin,
      "events_twap" ->
        """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
          |t AS (SELECT event_type, cents,
          |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dur FROM e)
          |SELECT event_type, COUNT(*) AS n_spans,
          | CAST(CAST(SUM(CAST(cents AS HUGEINT) * dur) AS VARCHAR) AS DOUBLE)
          |  / CAST(CAST(SUM(CAST(dur AS HUGEINT)) AS VARCHAR) AS DOUBLE) / 100.0 AS twap
          |FROM t WHERE dur IS NOT NULL GROUP BY event_type ORDER BY event_type""".stripMargin,
      "data_bootstrap_ci" ->
        """WITH h AS (SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
          |  CAST(('0x' || substr(md5('bs:' || CAST(o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT) AS h0
          |  FROM orders),
          |r AS (SELECT cents, h0, unnest(range(1, 65)) AS b FROM h),
          |u AS (SELECT cents, b,
          |  ((h0 % 16777216) * 2654435761 + (h0 // 16777216) * 40503
          |    + b * (h0 % 1000003) + b * 97) % 281474976710656 AS u
          |  FROM r),
          |m AS (SELECT cents, b,
          |  CASE WHEN u < 103548857136060 THEN 0 WHEN u < 207097714272121 THEN 1
          |       WHEN u < 258872142840152 THEN 2 WHEN u < 276130285696162 THEN 3
          |       ELSE 4 END AS m FROM u),
          |mb AS (SELECT b,
          |  CAST(CAST(SUM(CAST(m AS HUGEINT) * cents) AS VARCHAR) AS DOUBLE)
          |   / CAST(SUM(m) AS DOUBLE) / 100.0 AS mean_b
          |  FROM m GROUP BY b),
          |rk AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b) AS rk FROM mb)
          |SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
          | MIN(CASE WHEN rk = 2 THEN mean_b END) AS ci_lo,
          | MIN(CASE WHEN rk = 63 THEN mean_b END) AS ci_hi
          |FROM rk""".stripMargin,
      "dedup_best_match" ->
        s"""WITH p AS (${jaccardPairsSql(3, 0.8)}),
           |sym AS (SELECT a_id AS src, b_id AS dst, jaccard FROM p
           |        UNION ALL SELECT b_id, a_id, jaccard FROM p),
           |best AS (SELECT src, dst, jaccard,
           |         row_number() OVER (PARTITION BY src ORDER BY jaccard DESC, dst) AS rk
           |         FROM sym),
           |b1 AS (SELECT src, dst, jaccard FROM best WHERE rk = 1)
           |SELECT x.src AS a_id, x.dst AS b_id, x.jaccard
           |FROM b1 x JOIN b1 y ON x.dst = y.src AND y.dst = x.src AND x.src < y.src
           |ORDER BY a_id""".stripMargin,
      "events_calendar_gaps" ->
        """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour
          |           FROM events),
          |b AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM e),
          |t AS (SELECT DISTINCT event_type FROM e),
          |g AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS hour FROM t, b),
          |o AS (SELECT DISTINCT event_type, hour FROM e)
          |SELECT g.event_type AS event_type, g.hour AS hour
          |FROM g LEFT JOIN o ON g.event_type = o.event_type AND g.hour = o.hour
          |WHERE o.event_type IS NULL ORDER BY g.event_type, g.hour""".stripMargin,
      "data_ldiversity" ->
        """SELECT CAST(c_nationkey AS BIGINT) AS nation,
          | CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
          | COUNT(*) AS n, COUNT(DISTINCT c_mktsegment) AS l_div,
          | COUNT(DISTINCT c_mktsegment) < 3 AS at_risk
          |FROM customer GROUP BY 1, 2 ORDER BY nation, bal_band""".stripMargin,
      "data_expectations" ->
        """WITH m AS (SELECT COUNT(*) AS n,
          |  COUNT(*) - COUNT(DISTINCT o_orderkey) AS dupk,
          |  SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nullk,
          |  SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS oor,
          |  SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS badst
          |  FROM orders)
          |SELECT * FROM (
          |  SELECT 'key_not_null' AS rule, CAST(nullk AS DOUBLE) AS measured, nullk = 0 AS ok FROM m
          |  UNION ALL SELECT 'key_unique', CAST(dupk AS DOUBLE), dupk = 0 FROM m
          |  UNION ALL SELECT 'price_in_range', CAST(oor AS DOUBLE), oor = 0 FROM m
          |  UNION ALL SELECT 'status_domain', CAST(badst AS DOUBLE), badst = 0 FROM m
          |  UNION ALL SELECT 'row_count_min', CAST(n AS DOUBLE), n >= 1000 FROM m)
          |ORDER BY rule""".stripMargin,
      "data_neyman_alloc" ->
        """WITH m AS (SELECT o_orderpriority AS stratum, COUNT(*) AS n_rows,
          |  CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sx,
          |  CAST(CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxx
          |  FROM orders GROUP BY o_orderpriority),
          |sdv AS (SELECT stratum, n_rows,
          |  sqrt((sxx - sx * sx / CAST(n_rows AS DOUBLE)) / (CAST(n_rows AS DOUBLE) - 1)) AS sd
          |  FROM m),
          |wm AS (SELECT stratum, n_rows,
          |  CAST(floor(CAST(n_rows AS DOUBLE) * sd * 1e6) AS HUGEINT) AS w_micro FROM sdv),
          |t AS (SELECT SUM(w_micro) AS w_tot FROM wm),
          |a AS (SELECT stratum, n_rows, (1000 * w_micro) // w_tot AS base,
          |  1000 * w_micro - ((1000 * w_micro) // w_tot) * w_tot AS rem
          |  FROM wm, t),
          |r AS (SELECT stratum, n_rows, base,
          |  row_number() OVER (ORDER BY rem DESC, stratum) AS rk,
          |  1000 - SUM(base) OVER () AS leftover
          |  FROM a)
          |SELECT stratum, n_rows,
          | CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
          |FROM r ORDER BY stratum""".stripMargin,
      "data_benford" ->
        """WITH d AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
          |  FROM orders),
          |c AS (SELECT digit, COUNT(*) AS n_d FROM d GROUP BY digit),
          |t AS (SELECT CAST(SUM(n_d) AS DOUBLE) AS n FROM c),
          |-- e-notation forces direct DOUBLE parsing: a plain decimal literal
          |-- routes through DECIMAL(19,17) whose double cast is NOT correctly
          |-- rounded (off-by-one-ulp vs Spark's lit() on digit 3)
          |e AS (SELECT [3.010299956639812e-1, 1.7609125905568124e-1, 1.2493873660829993e-1,
          |  9.691001300805642e-2, 7.918124604762482e-2, 6.694678963061322e-2,
          |  5.799194697768673e-2, 5.115252244738129e-2, 4.575749056067514e-2] AS ex)
          |SELECT digit, n_d, CAST(n_d AS DOUBLE) / n AS share, ex[digit] AS expected,
          | abs(CAST(n_d AS DOUBLE) / n - ex[digit]) AS abs_dev
          |FROM c, t, e ORDER BY digit""".stripMargin,
      "events_gini" ->
        """WITH x AS (SELECT user_id,
          |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS BIGINT) AS x
          |  FROM events GROUP BY user_id),
          |r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
          |  COUNT(*) OVER () AS n FROM x)
          |SELECT CAST(MAX(n) AS BIGINT) AS n_users,
          | CAST(CAST(SUM(CAST(2 * i - n - 1 AS HUGEINT) * x) AS VARCHAR) AS DOUBLE)
          |  / CAST(CAST(CAST(MAX(n) AS HUGEINT) * SUM(CAST(x AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS gini
          |FROM r""".stripMargin,
      "q44_joinsize" ->
        """SELECT (SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
          |  AS exact, true AS lower_ok, true AS upper_ok""".stripMargin,
      "events_autocorr" ->
        """WITH daily AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS tot
          |  FROM events GROUP BY 1, 2),
          |pairs AS (SELECT a.event_type, a.tot AS x, b.tot AS y
          |  FROM daily a JOIN daily b ON a.event_type = b.event_type AND b.day = a.day + 1),
          |mo AS (SELECT event_type, COUNT(*) AS n,
          |  CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sx,
          |  CAST(CAST(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sy,
          |  CAST(CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxx,
          |  CAST(CAST(CAST(SUM(CAST(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS syy,
          |  CAST(CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxy
          |  FROM pairs GROUP BY event_type)
          |SELECT event_type, n,
          | (CAST(n AS DOUBLE)*sxy - sx*sy) /
          |   sqrt((CAST(n AS DOUBLE)*sxx - sx*sx) * (CAST(n AS DOUBLE)*syy - sy*sy)) AS acf1
          |FROM mo ORDER BY event_type""".stripMargin,
      "q43_percentrank" ->
        """SELECT s_suppkey, s_nationkey, s_acctbal,
          | percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
          |FROM supplier
          |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal)
          |ORDER BY s_suppkey""".stripMargin,
      "events_chi2" ->
        """WITH cells AS (SELECT event_type,
          |  (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS dow,
          |  COUNT(*) AS obs FROM events GROUP BY 1, 2),
          |m AS (SELECT *, SUM(obs) OVER (PARTITION BY event_type) AS row_tot,
          |  SUM(obs) OVER (PARTITION BY dow) AS col_tot, SUM(obs) OVER () AS n FROM cells),
          |c AS (SELECT event_type, dow, obs,
          |  CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
          |  (CAST(obs AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(n AS DOUBLE))
          |  * (CAST(obs AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(n AS DOUBLE))
          |  / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(n AS DOUBLE)) AS contrib
          |  FROM m),
          |t AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list(contrib ORDER BY event_type, dow)), (a, b) -> a + b) AS chi2,
          |  CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof
          |  FROM c)
          |SELECT c.event_type, c.dow, c.obs, c.expected, c.contrib, t.chi2, t.dof
          |FROM c, t ORDER BY event_type, dow""".stripMargin,
      "quality_kappa" ->
        """WITH l AS (SELECT CAST(n_chars >= 400 AS INT) AS la,
          |  CAST(length(text) - length(replace(text, ' ', '')) >= 70 AS INT) AS lb
          |  FROM documents),
          |cm AS (SELECT COUNT(*) AS n,
          |  SUM(CASE WHEN la = 1 AND lb = 1 THEN 1 ELSE 0 END) AS n11,
          |  SUM(CASE WHEN la = 1 AND lb = 0 THEN 1 ELSE 0 END) AS n10,
          |  SUM(CASE WHEN la = 0 AND lb = 1 THEN 1 ELSE 0 END) AS n01,
          |  SUM(CASE WHEN la = 0 AND lb = 0 THEN 1 ELSE 0 END) AS n00 FROM l),
          |p AS (SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
          |  CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
          |  CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
          |  CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE) AS pa1,
          |  CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE) AS pb1 FROM cm)
          |SELECT n, n11, n10, n01, n00, po,
          | pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1) AS pe,
          | (po - (pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1)))
          |   / (1.0 - (pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1))) AS kappa
          |FROM p""".stripMargin,
      "events_cusum" ->
        """WITH daily AS (SELECT event_type,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT *,
          |  SUM(x) OVER (PARTITION BY event_type) // COUNT(*) OVER (PARTITION BY event_type) AS mu
          |  FROM daily),
          |y AS (SELECT *, abs(mu) // 20 AS slack, x - mu - abs(mu) // 20 AS dev FROM m),
          |pf1 AS (SELECT *, SUM(dev) OVER (PARTITION BY event_type ORDER BY day
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf FROM y),
          |p AS (SELECT *, MIN(pf) OVER (PARTITION BY event_type ORDER BY day
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn FROM pf1)
          |SELECT event_type, day, x,
          | CAST(pf - LEAST(0, mn) AS BIGINT) AS cusum,
          | pf - LEAST(0, mn) > slack * 5 AS alarm
          |FROM p ORDER BY event_type, day""".stripMargin,
      "data_quantile_norm" ->
        """WITH docs AS (SELECT doc_id, source, n_chars AS v FROM documents),
          |sd AS (SELECT source, v, COUNT(*) AS cnt FROM docs GROUP BY 1, 2),
          |sr AS (SELECT *, COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY v
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS rank_min,
          |  SUM(cnt) OVER (PARTITION BY source) AS n_s FROM sd),
          |gd AS (SELECT v, COUNT(*) AS gcnt FROM docs GROUP BY 1),
          |g AS (SELECT *, COALESCE(SUM(gcnt) OVER (ORDER BY v
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM gd),
          |n AS (SELECT SUM(gcnt) AS n_g FROM gd),
          |mp AS (SELECT sr.source, sr.v,
          |  CASE WHEN n_s > 1 THEN (rank_min - 1) * (n_g - 1) // (n_s - 1) + 1 ELSE 1 END AS p
          |  FROM sr, n),
          |t AS (SELECT mp.source, mp.v, g.v AS v_norm FROM mp JOIN g
          |  ON mp.p > g.cum_before AND mp.p <= g.cum_before + g.gcnt)
          |SELECT d.doc_id, d.source, d.v, t.v_norm
          |FROM docs d JOIN t USING (source, v) ORDER BY doc_id""".stripMargin,
      "dedup_cluster_radius" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |c AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
           |walk(id, dd) AS (
           | SELECT DISTINCT cluster_id AS id, 0 AS dd FROM c
           | UNION
           | SELECT e.b AS id, walk.dd + 1 AS dd FROM walk JOIN e ON e.a = walk.id
           | WHERE walk.dd < 30)
           |SELECT c.id, c.cluster_id, CAST(MIN(w.dd) AS BIGINT) AS dist
           |FROM c JOIN walk w ON w.id = c.id
           |GROUP BY c.id, c.cluster_id ORDER BY c.id""".stripMargin,
      "events_survival" ->
        """WITH u AS (SELECT user_id,
          |  min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
          |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
          |  FROM events GROUP BY 1),
          |g AS (SELECT max(last_us) AS gmax_us FROM u),
          |dur AS (SELECT user_id % 2 AS cohort,
          |  (last_us - first_us) // 86400000000 AS dur,
          |  CAST(last_us < gmax_us - 14 * 86400000000 AS INT) AS churned FROM u, g),
          |cells AS (SELECT cohort, dur, COUNT(*) AS n_here, SUM(churned) AS d_t
          |  FROM dur GROUP BY 1, 2),
          |k AS (SELECT *, SUM(n_here) OVER (PARTITION BY cohort ORDER BY dur
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_t FROM cells),
          |f AS (SELECT cohort, dur, CAST(n_t AS BIGINT) AS n_t, CAST(d_t AS BIGINT) AS d_t,
          |  CAST(n_t - d_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS factor FROM k),
          |a AS (SELECT cohort, list(factor ORDER BY dur) AS fl FROM f GROUP BY cohort),
          |r AS (SELECT *, row_number() OVER (PARTITION BY cohort ORDER BY dur) AS rn FROM f)
          |SELECT r.cohort, r.dur AS t, r.n_t AS n_at_risk, r.d_t AS d_events,
          | list_reduce(list_prepend(CAST(1.0 AS DOUBLE), a.fl[1:CAST(r.rn AS INT)]),
          |   (p, q) -> p * q) AS surv
          |FROM r JOIN a ON r.cohort = a.cohort ORDER BY r.cohort, t""".stripMargin,
      "dedup_blocking_eval" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 3)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |tr AS (SELECT a_id, b_id
           |      FROM ji
           |      WHERE $jaccard >= 0.8),
           |b AS (SELECT doc_id, n_chars // 100 AS band FROM documents),
           |h AS (SELECT band, COUNT(*) AS c FROM b GROUP BY 1),
           |nc AS (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_cand FROM h),
           |tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
           |  CAST(SUM(CASE WHEN ba.band = bb.band THEN 1 ELSE 0 END) AS BIGINT) AS tp
           |  FROM tr JOIN b ba ON ba.doc_id = tr.a_id JOIN b bb ON bb.doc_id = tr.b_id)
           |SELECT n_cand, n_truth, tp,
           | CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE) AS prec,
           | CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall,
           | 2.0 * (CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE))
           |     * (CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE))
           |   / (CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE)
           |     + CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)) AS f1
           |FROM nc, tp""".stripMargin,
      "quality_label_prop" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b AS src, a AS dst FROM p),
           |lab AS (SELECT doc_id AS dst, lang AS label FROM documents WHERE doc_id % 5 = 0),
           |v AS (SELECT e.src, lab.label, COUNT(*) AS n_votes
           |      FROM e JOIN lab USING (dst) WHERE e.src % 5 <> 0 GROUP BY 1, 2),
           |r AS (SELECT *, SUM(n_votes) OVER (PARTITION BY src) AS n_nbrs,
           |  row_number() OVER (PARTITION BY src ORDER BY n_votes DESC, label) AS rk FROM v)
           |SELECT src AS doc_id, label AS pred_label, n_votes,
           | CAST(n_nbrs AS BIGINT) AS n_nbrs
           |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,
      "data_temperature_mix" ->
        s"""WITH m AS (SELECT source, CAST(SUM(len($toks)) AS BIGINT) AS mass
           |  FROM documents GROUP BY source),
           |wm AS (SELECT source, mass,
           |  CAST(floor(sqrt(CAST(mass AS DOUBLE)) * 1e6) AS HUGEINT) AS w_micro FROM m),
           |t AS (SELECT SUM(w_micro) AS w_tot, CAST(SUM(mass) AS DOUBLE) AS mass_tot FROM wm),
           |a AS (SELECT source, mass, mass_tot, (100000 * w_micro) // w_tot AS base,
           |  100000 * w_micro - ((100000 * w_micro) // w_tot) * w_tot AS rem
           |  FROM wm, t),
           |r AS (SELECT source, mass, mass_tot, base,
           |  row_number() OVER (ORDER BY rem DESC, source) AS rk,
           |  100000 - SUM(base) OVER () AS leftover
           |  FROM a)
           |SELECT source, mass,
           | CAST(mass AS DOUBLE) / mass_tot AS share_before,
           | CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS n_alloc,
           | CAST(CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS DOUBLE)
           |   / 1.0e5 AS share_after
           |FROM r ORDER BY source""".stripMargin,
      "text_retrieval_metrics" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM f GROUP BY doc_id),
           |q AS (SELECT * FROM f WHERE token IN ('merge', 'join', 'window')),
           |dft AS (SELECT token, COUNT(*) AS df FROM q GROUP BY token),
           |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS tot FROM f),
           |nn AS (SELECT COUNT(*) AS n FROM documents),
           |sc AS (SELECT q.doc_id,
           |   ROUND(((CAST(nn.n AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5)) *
           |         ((q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / (tot.tot / nn.n)))), 4) AS c
           | FROM q JOIN dft USING (token) CROSS JOIN tot CROSS JOIN nn JOIN dl USING (doc_id)),
           |agg AS (SELECT doc_id, CAST(CAST(CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS score
           | FROM sc GROUP BY doc_id),
           |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
           | FROM (SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT 10)),
           |rel AS (SELECT doc_id,
           |  CAST(len(list_intersect(list_distinct($toks), ['merge', 'join', 'window'])) AS INT) AS rel
           |  FROM documents),
           |cnt AS (SELECT
           |  CAST(SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
           |  CAST(SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |  CAST(SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1 FROM rel),
           |pdv AS (SELECT [0.0e0, 1.0e0, 1.6309297535714575e0, 2.1309297535714578e0,
           |  2.5616063116448506e0, 2.9484591188793923e0, 3.3046663059874146e0,
           |  3.637999639320748e0, 3.953464516106477e0, 4.254494511770458e0,
           |  4.543559338088346e0] AS pd,
           |  [1.0e0, 6.309297535714575e-1, 5.0e-1, 4.3067655807339306e-1,
           |  3.8685280723454163e-1, 3.562071871080222e-1, 3.333333333333333e-1,
           |  3.1546487678572877e-1, 3.010299956639812e-1, 2.890648263178879e-1] AS disc),
           |ic AS (SELECT n3, n2, n1,
           |  3.0e0 * pd[CAST(LEAST(10, n3) AS INT) + 1] +
           |  2.0e0 * (pd[CAST(LEAST(10, n3 + n2) AS INT) + 1] - pd[CAST(LEAST(10, n3) AS INT) + 1]) +
           |  1.0e0 * (pd[CAST(LEAST(10, n3 + n2 + n1) AS INT) + 1] - pd[CAST(LEAST(10, n3 + n2) AS INT) + 1]) AS idcg
           |  FROM cnt, pdv),
           |rr AS (SELECT ranked.rnk, rel.rel FROM ranked JOIN rel USING (doc_id)),
           |dc AS (SELECT
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(CAST(rr.rel AS DOUBLE) * ([1.0e0, 6.309297535714575e-1, 5.0e-1,
           |      4.3067655807339306e-1, 3.8685280723454163e-1, 3.562071871080222e-1,
           |      3.333333333333333e-1, 3.1546487678572877e-1, 3.010299956639812e-1,
           |      2.890648263178879e-1])[CAST(rr.rnk AS INT)] ORDER BY rr.rnk)),
           |    (x, y) -> x + y) AS dcg,
           |  CASE WHEN MIN(CASE WHEN rr.rel > 0 THEN rr.rnk END) IS NULL THEN 0.0e0
           |       ELSE 1.0e0 / CAST(MIN(CASE WHEN rr.rel > 0 THEN rr.rnk END) AS DOUBLE) END AS mrr
           |  FROM rr)
           |SELECT n3, n2, n1, mrr, dcg, idcg, dcg / idcg AS ndcg FROM ic, dc""".stripMargin,
      "graph_sssp" ->
        """WITH RECURSIVE lanes AS (SELECT l_suppkey, l_partkey,
          |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS w
          |  FROM lineitem GROUP BY 1, 2),
          |le AS (SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst, w
          |  FROM lanes WHERE w <= 500),
          |e AS (SELECT src, dst, w FROM le UNION ALL SELECT dst AS src, src AS dst, w FROM le),
          |em AS (SELECT src, dst, MIN(w) AS w FROM e GROUP BY 1, 2),
          |seeds AS (SELECT s_suppkey * 2 + 1 AS id FROM supplier WHERE s_suppkey % 100 = 1),
          |walk(id, dd, hops) AS (
          | SELECT id, CAST(0 AS BIGINT) AS dd, 0 AS hops FROM seeds
          | UNION
          | SELECT em.dst AS id, walk.dd + em.w AS dd, walk.hops + 1 AS hops
          | FROM walk JOIN em ON em.src = walk.id WHERE walk.hops < 4)
          |SELECT id, CAST(MIN(dd) AS BIGINT) AS dist FROM walk GROUP BY id ORDER BY id""".stripMargin,
      "q50_skyline" ->
        """WITH dom AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS qd,
          |  MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_pc
          |  FROM lineitem GROUP BY 1),
          |s AS (SELECT *, MAX(max_pc) OVER (ORDER BY qd DESC
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi FROM dom)
          |SELECT CAST(qd AS DOUBLE) AS quantity, max_pc AS price_cents FROM s
          |WHERE hi IS NULL OR max_pc > hi ORDER BY quantity""".stripMargin,
      "q51_weighted_median" ->
        """WITH dom AS (SELECT l_returnflag,
          |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc,
          |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS wt
          |  FROM lineitem GROUP BY 1, 2),
          |c AS (SELECT *, SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY pc
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |  SUM(wt) OVER (PARTITION BY l_returnflag) AS tot FROM dom)
          |SELECT l_returnflag, CAST(MIN(pc) AS DOUBLE) / 100 AS wmedian_price
          |FROM c WHERE cum * 2 >= tot GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "vec_matryoshka" ->
        s"""WITH basef AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |baset AS (SELECT vec_id, (embedding::DOUBLE[])[1:16] AS vec FROM embeddings),
           |sf2 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |  ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) AS cosine
           |  FROM basef a JOIN basef b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
           |rf AS (SELECT query_id, neighbor_id,
           |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           |  FROM sf2),
           |st AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |  ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) AS cosine
           |  FROM baset a JOIN baset b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
           |rt AS (SELECT query_id, neighbor_id,
           |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           |  FROM st),
           |hits AS (SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
           |  FROM (SELECT query_id, neighbor_id FROM rf WHERE rank <= 5) f
           |  JOIN (SELECT query_id, neighbor_id FROM rt WHERE rank <= 5) t
           |    USING (query_id, neighbor_id)
           |  GROUP BY f.query_id),
           |q AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 8)
           |SELECT q.query_id, CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
           | CAST(COALESCE(n_overlap, 0) AS DOUBLE) / 5.0 AS recall16
           |FROM q LEFT JOIN hits USING (query_id) ORDER BY q.query_id""".stripMargin,
      "vec_centroid_drift" ->
        """WITH pe AS (SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS gen,
          |  generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS x
          |  FROM embeddings),
          |cells AS (SELECT label, pos,
          |  CAST(SUM(CASE WHEN gen = 0 THEN CAST(floor(CAST(x AS DOUBLE) * 1073741824.0) AS BIGINT) END) AS BIGINT) AS sa,
          |  SUM(CASE WHEN gen = 0 THEN 1 ELSE 0 END) AS na,
          |  CAST(SUM(CASE WHEN gen = 1 THEN CAST(floor(CAST(x AS DOUBLE) * 1073741824.0) AS BIGINT) END) AS BIGINT) AS sb,
          |  SUM(CASE WHEN gen = 1 THEN 1 ELSE 0 END) AS nb
          |  FROM pe GROUP BY label, pos),
          |dd AS (SELECT label, pos, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
          |  CAST(sa AS DOUBLE) / (CAST(na AS DOUBLE) * 1073741824.0)
          |    - CAST(sb AS DOUBLE) / (CAST(nb AS DOUBLE) * 1073741824.0) AS dd FROM cells)
          |SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
          | sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(dd * dd ORDER BY pos)),
          |   (p, q) -> p + q)) AS l2_drift
          |FROM dd GROUP BY label ORDER BY label""".stripMargin,
      "data_tcloseness" ->
        """WITH cust AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
          |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band, c_mktsegment AS seg
          |  FROM customer),
          |cls AS (SELECT nation, bal_band, COUNT(*) AS n_c FROM cust GROUP BY 1, 2),
          |gl AS (SELECT seg, COUNT(*) AS n_gs FROM cust GROUP BY 1),
          |ng AS (SELECT CAST(SUM(n_gs) AS BIGINT) AS n_g FROM gl),
          |cellc AS (SELECT nation, bal_band, seg, COUNT(*) AS n_cs FROM cust GROUP BY 1, 2, 3),
          |grid AS (SELECT cls.nation, cls.bal_band, cls.n_c, gl.seg, gl.n_gs, ng.n_g,
          |  COALESCE(cellc.n_cs, 0) AS n_cs
          |  FROM cls CROSS JOIN gl CROSS JOIN ng
          |  LEFT JOIN cellc ON cellc.nation = cls.nation AND cellc.bal_band = cls.bal_band
          |    AND cellc.seg = gl.seg),
          |agg AS (SELECT nation, bal_band, CAST(MAX(n_c) AS BIGINT) AS n,
          |  CAST(SUM(abs(n_cs * n_g - n_gs * n_c)) AS BIGINT) AS num,
          |  CAST(MAX(n_g) AS BIGINT) AS ng FROM grid GROUP BY 1, 2)
          |SELECT nation, bal_band, n,
          | CAST(num AS DOUBLE) / (2.0 * CAST(n AS DOUBLE) * CAST(ng AS DOUBLE)) AS tvd,
          | CAST(num AS DOUBLE) / (2.0 * CAST(n AS DOUBLE) * CAST(ng AS DOUBLE)) <= 0.4 AS t_ok
          |FROM agg ORDER BY nation, bal_band""".stripMargin,
      "events_stl" ->
        """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
          |  FROM events GROUP BY 1),
          |t AS (SELECT *, COUNT(*) OVER w AS wn, SUM(x) OVER w AS t7 FROM daily
          |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          |f AS (SELECT day, x, t7, x * 7 - t7 AS detr7, (day + 4) % 7 AS dow
          |  FROM t WHERE wn = 7),
          |seas AS (SELECT dow, SUM(detr7) AS s7sum, COUNT(*) AS sn FROM f GROUP BY dow)
          |SELECT f.day, f.x,
          | CAST(f.t7 AS DOUBLE) / 7.0 AS trend,
          | CAST(seas.s7sum AS DOUBLE) / (7.0 * CAST(seas.sn AS DOUBLE)) AS seasonal,
          | CAST(f.x AS DOUBLE) - CAST(f.t7 AS DOUBLE) / 7.0
          |   - CAST(seas.s7sum AS DOUBLE) / (7.0 * CAST(seas.sn AS DOUBLE)) AS remainder
          |FROM f JOIN seas USING (dow) ORDER BY f.day""".stripMargin,
      "events_rolling_median" ->
        """WITH daily AS (SELECT event_type,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
          |  FROM events GROUP BY 1, 2),
          |r AS (SELECT event_type, day, x,
          |  list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
          |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) AS ws
          |  FROM daily)
          |SELECT event_type, day, x, CAST(len(ws) AS BIGINT) AS n_win,
          | ws[CAST((len(ws) + 1) // 2 AS INT)] AS med14
          |FROM r ORDER BY event_type, day""".stripMargin,
      "events_power_analysis" ->
        """WITH m AS (SELECT event_type, COUNT(*) AS n,
          |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sx,
          |  CAST(CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxx
          |  FROM events GROUP BY event_type),
          |p AS (SELECT event_type, CAST(n AS BIGINT) AS n,
          |  sx / CAST(n AS DOUBLE) AS mean,
          |  (sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS variance
          |  FROM m)
          |SELECT event_type, n, mean, variance,
          | CAST(ceil(2.0e0 * variance *
          |   ((1.959963984540054e0 + 8.416212335729143e-1) * (1.959963984540054e0 + 8.416212335729143e-1))
          |   / ((5.0e-2 * mean) * (5.0e-2 * mean))) AS BIGINT) AS n_required
          |FROM p ORDER BY event_type""".stripMargin,
      "data_feature_store" ->
        """WITH e AS (SELECT user_id, event_type, value,
          |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
          |f AS (SELECT MAX(ts_us) AS f_us FROM e),
          |u AS (SELECT user_id, COUNT(*) AS n_events,
          |  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
          |  SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
          |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
          |  SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_error,
          |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total_value,
          |  MAX(ts_us) AS last_us
          |  FROM e GROUP BY user_id)
          |SELECT user_id, n_events,
          | CAST(n_click AS BIGINT) AS n_click, CAST(n_view AS BIGINT) AS n_view,
          | CAST(n_purchase AS BIGINT) AS n_purchase, CAST(n_error AS BIGINT) AS n_error,
          | total_value, (f.f_us - last_us) // 86400000000 AS recency_days
          |FROM u, f ORDER BY user_id""".stripMargin,
      "events_cumulative_users" ->
        """WITH fs AS (SELECT user_id,
          |  MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS day
          |  FROM events GROUP BY user_id),
          |pd AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY day)
          |SELECT day, new_users,
          | CAST(SUM(new_users) OVER (ORDER BY day
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
          |FROM pd ORDER BY day""".stripMargin,
      "events_outlier_iqr" ->
        """WITH daily AS (SELECT event_type,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
          |  FROM events GROUP BY 1, 2),
          |dom AS (SELECT event_type, x, COUNT(*) AS c FROM daily GROUP BY 1, 2),
          |cums AS (SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY x
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |  SUM(c) OVER (PARTITION BY event_type) AS n FROM dom),
          |q AS (SELECT event_type,
          |  MIN(CASE WHEN cum * 4 >= n THEN x END) AS q1,
          |  MIN(CASE WHEN cum * 4 >= n * 3 THEN x END) AS q3
          |  FROM cums GROUP BY event_type)
          |SELECT daily.event_type, daily.day, daily.x, q.q1, q.q3,
          | (daily.x * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3 OR
          |  daily.x * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3) AS is_outlier
          |FROM daily JOIN q USING (event_type) ORDER BY daily.event_type, daily.day""".stripMargin,
      "q53_window_family" ->
        """SELECT s_suppkey, s_nationkey, s_acctbal,
          | first_value(s_acctbal) OVER wf AS first_bal,
          | last_value(s_acctbal) OVER wf AS last_bal,
          | nth_value(s_acctbal, 2) OVER wf AS second_bal,
          | lag(s_acctbal, 1) OVER w AS prev_bal,
          | lead(s_acctbal, 1) OVER w AS next_bal
          |FROM supplier
          |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey),
          | wf AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY s_suppkey""".stripMargin,
      "events_error_wilson" ->
        """WITH d AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
          |  FROM events GROUP BY 1),
          |p AS (SELECT day, CAST(n AS BIGINT) AS n, e, CAST(n AS DOUBLE) AS nn,
          |  CAST(e AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM d),
          |wl AS (SELECT *,
          |  (p + 1.959963984540054e0 * 1.959963984540054e0 / (2.0e0 * nn)
          |   - 1.959963984540054e0 * sqrt(p * (1.0e0 - p) / nn
          |     + 1.959963984540054e0 * 1.959963984540054e0 / (4.0e0 * nn * nn)))
          |  / (1.0e0 + 1.959963984540054e0 * 1.959963984540054e0 / nn) AS wilson_low
          |  FROM p)
          |SELECT day, n, e, p AS rate, wilson_low, wilson_low > 0.15 AS alert
          |FROM wl ORDER BY day""".stripMargin,
      "vec_knn_eval" ->
        s"""WITH base AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
           |  embedding::DOUBLE[] AS vec FROM embeddings),
           |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |  b.label AS nbr_label,
           |  ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) AS cosine
           |  FROM base a JOIN base b ON a.vec_id < 32 AND b.vec_id <> a.vec_id),
           |ranked AS (SELECT query_id, nbr_label,
           |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           |  FROM scored),
           |votes AS (SELECT query_id, nbr_label, COUNT(*) AS n_votes
           |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2),
           |pred AS (SELECT query_id, nbr_label AS pred FROM (SELECT *,
           |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_votes DESC, nbr_label) AS rk
           |  FROM votes) WHERE rk = 1),
           |acc AS (SELECT base.label, COUNT(*) AS n_probes,
           |  CAST(SUM(CASE WHEN pred.pred = base.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
           |  FROM pred JOIN base ON base.vec_id = pred.query_id GROUP BY base.label)
           |SELECT label, n_probes, n_correct,
           | CAST(n_correct AS DOUBLE) / CAST(n_probes AS DOUBLE) AS acc
           |FROM acc ORDER BY label""".stripMargin,
      "data_fd_check" ->
        """WITH den AS (SELECT * FROM customer
          |  JOIN nation ON c_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey),
          |stk AS (
          | SELECT 'custkey->name' AS fd, CAST(c_custkey AS VARCHAR) AS k, c_name AS v FROM den
          | UNION ALL SELECT 'nationkey->nname', CAST(c_nationkey AS VARCHAR), n_name FROM den
          | UNION ALL SELECT 'nationkey->rname', CAST(c_nationkey AS VARCHAR), r_name FROM den
          | UNION ALL SELECT 'segment->nname', c_mktsegment, n_name FROM den),
          |g AS (SELECT fd, k, COUNT(DISTINCT v) AS nd FROM stk GROUP BY 1, 2)
          |SELECT fd, COUNT(*) AS n_keys,
          | CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
          | SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
          |FROM g GROUP BY fd ORDER BY fd""".stripMargin,
      "events_holt" ->
        """WITH daily AS (SELECT event_type,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
          |  FROM events GROUP BY 1, 2),
          |a AS (SELECT event_type, COUNT(*) AS n_days,
          |  list(CAST(x AS DOUBLE) ORDER BY day) AS fl FROM daily GROUP BY 1),
          |st AS (SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
          |  list_reduce(list_prepend([fl[1], CAST(0.0 AS DOUBLE)],
          |    list_transform(fl[2:CAST(n_days AS INT)], v -> [v, CAST(0.0 AS DOUBLE)])),
          |    (acc, e) -> [(e[1] + acc[1] + acc[2]) / 2.0e0,
          |      ((e[1] + acc[1] + acc[2]) / 2.0e0 - acc[1]) / 2.0e0 + acc[2] / 2.0e0]) AS s
          |  FROM a)
          |SELECT event_type, n_days, s[1] AS level, s[2] AS trend,
          | s[1] + 7.0e0 * s[2] AS forecast_7d
          |FROM st ORDER BY event_type""".stripMargin,
      "events_session_window_builtin" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          |w AS (SELECT user_id, us,
          |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
          |        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000 THEN 1 ELSE 0 END AS ns
          | FROM e),
          |s AS (SELECT user_id, us,
          |  CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          | FROM w)
          |SELECT user_id, COUNT(*) AS n_events, MIN(us) AS start_us, MAX(us) AS end_us
          |FROM s GROUP BY user_id, session_idx ORDER BY user_id, start_us""".stripMargin,
      "q54_not_in_nulls" ->
        """WITH nl AS (SELECT nullif(o_orderstatus, 'F') AS st FROM orders WHERE o_orderkey < 100),
          |cl AS (SELECT o_orderstatus AS st FROM orders
          |       WHERE o_orderkey < 100 AND o_orderstatus <> 'F')
          |SELECT 'with_null' AS variant, COUNT(*) AS n FROM orders
          |WHERE o_orderstatus NOT IN (SELECT st FROM nl)
          |UNION ALL
          |SELECT 'no_null' AS variant, COUNT(*) AS n FROM orders
          |WHERE o_orderstatus NOT IN (SELECT st FROM cl)
          |ORDER BY variant""".stripMargin,
      "q55_join_hints" ->
        s"""WITH dim AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'),
           |one AS (SELECT COUNT(*) AS n, $revenue AS revenue
           |        FROM lineitem JOIN dim ON l_orderkey = o_orderkey)
           |SELECT v.variant, one.n, one.revenue
           |FROM one, (VALUES ('1_broadcast'), ('2_shuffle_hash'), ('3_merge'), ('4_aqe')) v(variant)
           |ORDER BY v.variant""".stripMargin,
      "ann_ivf_sweep" ->
        "SELECT CAST(8 AS BIGINT) AS n_queries, true AS monotone_ok, true AS recall8_ok",
      "data_cast_audit" ->
        """WITH stk AS (
          | SELECT 'totalprice->decimal(7,2)' AS cast_to,
          |   TRY_CAST(o_totalprice AS DECIMAL(7,2)) IS NULL AS fails,
          |   TRY_CAST(o_totalprice AS DECIMAL(7,2)) IS NOT NULL AND
          |     CAST(TRY_CAST(o_totalprice AS DECIMAL(7,2)) AS DOUBLE) <> o_totalprice AS lossy
          | FROM orders
          | UNION ALL SELECT 'orderkey->int', TRY_CAST(o_orderkey AS INT) IS NULL, false FROM orders
          | UNION ALL SELECT 'status->int', TRY_CAST(o_orderstatus AS INT) IS NULL, false FROM orders)
          |SELECT cast_to, COUNT(*) AS n,
          | CAST(SUM(CASE WHEN fails THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
          | CAST(SUM(CASE WHEN lossy THEN 1 ELSE 0 END) AS BIGINT) AS n_lossy,
          | SUM(CASE WHEN fails THEN 1 ELSE 0 END) = 0
          |   AND SUM(CASE WHEN lossy THEN 1 ELSE 0 END) = 0 AS safe
          |FROM stk GROUP BY cast_to ORDER BY cast_to""".stripMargin,
      "diff_column_stats" ->
        """WITH l AS (SELECT * FROM orders),
          |r AS (SELECT o_orderkey, o_custkey, o_orderstatus,
          |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10 ELSE o_totalprice END AS o_totalprice,
          |  o_orderdate,
          |  CASE WHEN o_orderkey % 11 = 0 THEN '9-RECHECK' ELSE o_orderpriority END AS o_orderpriority
          |  FROM orders WHERE o_orderkey % 97 <> 0),
          |j AS (SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS k,
          |  l.o_orderkey IS NOT NULL AS el, r.o_orderkey IS NOT NULL AS er,
          |  l.o_custkey AS lc, r.o_custkey AS rc,
          |  l.o_orderstatus AS ls, r.o_orderstatus AS rs,
          |  l.o_totalprice AS lp, r.o_totalprice AS rp,
          |  l.o_orderdate AS ld, r.o_orderdate AS rd,
          |  l.o_orderpriority AS lo, r.o_orderpriority AS ro
          |  FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey),
          |t AS (SELECT *, CASE WHEN el AND NOT er THEN 'D' WHEN er AND NOT el THEN 'I'
          |  WHEN lc IS DISTINCT FROM rc OR ls IS DISTINCT FROM rs OR lp IS DISTINCT FROM rp
          |    OR ld IS DISTINCT FROM rd OR lo IS DISTINCT FROM ro THEN 'C'
          |  ELSE 'N' END AS d FROM j),
          |colstk AS (
          | SELECT 'o_custkey' AS column_name, CAST(SUM(CASE WHEN lc IS DISTINCT FROM rc THEN 1 ELSE 0 END) AS BIGINT) AS n_changed FROM t WHERE d = 'C'
          | UNION ALL SELECT 'o_orderstatus', CAST(SUM(CASE WHEN ls IS DISTINCT FROM rs THEN 1 ELSE 0 END) AS BIGINT) FROM t WHERE d = 'C'
          | UNION ALL SELECT 'o_totalprice', CAST(SUM(CASE WHEN lp IS DISTINCT FROM rp THEN 1 ELSE 0 END) AS BIGINT) FROM t WHERE d = 'C'
          | UNION ALL SELECT 'o_orderdate', CAST(SUM(CASE WHEN ld IS DISTINCT FROM rd THEN 1 ELSE 0 END) AS BIGINT) FROM t WHERE d = 'C'
          | UNION ALL SELECT 'o_orderpriority', CAST(SUM(CASE WHEN lo IS DISTINCT FROM ro THEN 1 ELSE 0 END) AS BIGINT) FROM t WHERE d = 'C'
          | UNION ALL SELECT d, CAST(COUNT(*) AS BIGINT) FROM t GROUP BY d)
          |SELECT column_name, n_changed FROM colstk ORDER BY column_name""".stripMargin,
      "events_json_variant" ->
        """SELECT CAST(json_extract(props, '$.k') AS INT) AS k, COUNT(*) AS n,
          | CAST(COUNT(*) AS BIGINT) AS n_miss_null
          |FROM events GROUP BY 1 ORDER BY k NULLS LAST""".stripMargin,
      "q56_string_funcs" ->
        """SELECT c_custkey,
          | upper(c_name) AS up, lower(c_mktsegment) AS lo,
          | substr(c_name, 3, 8) AS sub,
          | lpad(c_name, 24, '*') AS lp, rpad(c_mktsegment, 12, '.') AS rp,
          | regexp_replace(c_name, '0', '#', 'g') AS repl,
          | reverse(c_name) AS rev,
          | CAST(length(c_name) AS BIGINT) AS len,
          | CAST(strpos(c_name, '1') AS BIGINT) AS pos1,
          | concat_ws('|', c_mktsegment, c_name) AS cw
          |FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey""".stripMargin,
      "q57_null_ordering" ->
        """SELECT o_orderkey, nullif(o_orderstatus, 'F') AS st,
          | CAST(row_number() OVER (ORDER BY nullif(o_orderstatus, 'F') ASC NULLS LAST,
          |   o_orderkey) AS BIGINT) AS rk
          |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin,
      "q58_date_funcs" ->
        """SELECT o_orderkey,
          | CAST(o_orderdate AS DATE) AS od,
          | CAST(date_trunc('month', o_orderdate) AS DATE) AS m_start,
          | CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start,
          | CAST(date_trunc('week', o_orderdate) AS DATE) AS w_start,
          | last_day(CAST(o_orderdate AS DATE)) AS m_end,
          | CAST(o_orderdate AS DATE) + 30 AS plus30,
          | CAST(date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
          |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin,
      "vec_matryoshka_curve" ->
        s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |rf AS (SELECT query_id, neighbor_id FROM (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |   ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
           |     ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) DESC, b.vec_id) AS rank
           |  FROM base a JOIN base b ON a.vec_id < 8 AND b.vec_id <> a.vec_id) WHERE rank <= 5),
           |dims AS (SELECT CAST(d.range AS INT) AS dim FROM range(3, 7) d),
           |tr AS (SELECT dims.dim, vec_id, (embedding::DOUBLE[])[1:(1 << dims.dim)] AS vec
           |       FROM embeddings, dims),
           |rt AS (SELECT dim, query_id, neighbor_id FROM (
           |  SELECT a.dim, a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |   ROW_NUMBER() OVER (PARTITION BY a.dim, a.vec_id ORDER BY
           |     ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) DESC, b.vec_id) AS rank
           |  FROM tr a JOIN tr b ON a.dim = b.dim AND a.vec_id < 8 AND b.vec_id <> a.vec_id)
           |  WHERE rank <= 5),
           |ov AS (SELECT dim, COUNT(*)::BIGINT AS n
           |       FROM rt JOIN rf USING (query_id, neighbor_id) GROUP BY dim)
           |SELECT CAST(1 << dims.dim AS INT) AS dim,
           | CAST(COALESCE(n, 0) AS BIGINT) AS n_overlap,
           | CAST(COALESCE(n, 0) AS DOUBLE) / 40.0 AS recall
           |FROM dims LEFT JOIN ov USING (dim) ORDER BY 1""".stripMargin,
           // dims LEFT JOIN (not GROUP BY over the join): a dim with ZERO
           // top-5 overlap must still emit its (dim, 0, 0.0) row — Spark's
           // ungrouped agg always does; the inner-join GROUP BY dropped it
           // (sf0.1 gate catch, round 13: dim=8 over 2000 vectors really
           // does hit zero overlap)
      "q59_array_funcs" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id <= 60)
           |SELECT doc_id,
           | CAST(len(tk) AS BIGINT) AS n_tok,
           | array_to_string(list_sort(list_distinct(tk)), ',') AS sorted_vocab,
           | list_contains(tk, 'the') AS has_the,
           | CAST(COALESCE(list_position(tk, 'the'), 0) AS BIGINT) AS pos_the,
           | array_to_string(tk[1:3], ',') AS first3,
           | array_to_string(list_transform(tk[1:3], x -> CAST(length(x) AS VARCHAR)), ',') AS first3_lens,
           | CAST(len(list_filter(tk, x -> length(x) >= 6)) AS BIGINT) AS n_long
           |FROM t ORDER BY doc_id""".stripMargin,
      "events_anova" ->
        """WITH g AS (SELECT event_type, COUNT(*) AS n,
          |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sx,
          |  CAST(CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxx
          |  FROM events GROUP BY 1),
          |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n_tot,
          |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(sx ORDER BY event_type)),
          |    (p, q) -> p + q) AS sx_tot,
          |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(sxx ORDER BY event_type)),
          |    (p, q) -> p + q) AS sxx_tot,
          |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list(sx * sx / CAST(n AS DOUBLE) ORDER BY event_type)), (p, q) -> p + q) AS ssb_raw
          |  FROM g),
          |s AS (SELECT k, n_tot,
          |  ssb_raw - sx_tot * sx_tot / CAST(n_tot AS DOUBLE) AS ss_between,
          |  sxx_tot - ssb_raw AS ss_within FROM t)
          |SELECT k, n_tot, ss_between, ss_within,
          | (ss_between / CAST(k - 1 AS DOUBLE)) / (ss_within / CAST(n_tot - k AS DOUBLE)) AS f_stat
          |FROM s""".stripMargin,
      "data_dedup_idempotence" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |c AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
           |n1 AS (SELECT (SELECT COUNT(*) FROM documents)
           |  - (SELECT COUNT(*) FROM c WHERE id <> cluster_id) AS n)
           |SELECT CAST(n AS BIGINT) AS n_pass1, CAST(n AS BIGINT) AS n_pass2,
           | true AS idempotent FROM n1""".stripMargin,
      "dedup_winnowing" ->
        // replay the full winnowing selection rule: positioned word
        // 4-grams (matching shinglesFromTokens's ≤k single-gram case),
        // 40-bit md5 hash packed with the 2²¹-complement position so
        // rightmost-min-per-window is a plain MIN, valid window starts
        // pos ≤ max(n_g − w, 0), distinct selected hashes per doc, then
        // the quadratic-truth shared-hash pair counts (≥ 2)
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |g0 AS (SELECT doc_id, CASE WHEN len(tk) <= 4 THEN [array_to_string(tk, ' ')]
           |        ELSE list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')) END AS gs
           |       FROM t),
           |gp AS (SELECT doc_id, unnest(list_transform(range(1, len(gs) + 1),
           |        i -> {'p': i - 1, 's': gs[i]})) AS u FROM g0),
           |ge AS (SELECT doc_id, u.p AS pos,
           |        CAST(('0x' || substr(md5(u.s), 1, 10)) AS BIGINT) * 2097152
           |          + (2097151 - u.p) AS key FROM gp),
           |sel AS (SELECT doc_id, pos,
           |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
           |         count(*) OVER (PARTITION BY doc_id) AS n_g
           |        FROM ge),
           |fp AS (SELECT DISTINCT doc_id, sel // 2097152 AS fp_hash
           |       FROM sel WHERE pos <= greatest(n_g - 4, 0))
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
           |FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING count(*) >= 2
           |ORDER BY a_id, b_id""".stripMargin,
      "data_dsir" ->
        // replay DSIR end-to-end: hashed-bigram bucket counts with the
        // target (lang='en') membership as a conditional sum, smoothed
        // per-bucket log-ratio rounded to 6 and cast DECIMAL(18,6) (the
        // only ln sites — ≤1024 of them), exact decimal per-doc fold,
        // seeded md5-Gumbel, top-50 by score. Decimal→double via
        // VARCHAR (DuckDB's direct decimal→double cast is not correctly
        // rounded — the dsum convention).
        s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
           |bg AS (SELECT doc_id, lang = 'en' AS is_t,
           |        unnest(CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
           |          ELSE list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')) END) AS g
           |       FROM t),
           |bb AS (SELECT doc_id, is_t,
           |        CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 1024 AS bucket FROM bg),
           |cnt AS (SELECT bucket, count(*) AS c_r,
           |        sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t FROM bb GROUP BY bucket),
           |tot AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM cnt),
           |lr AS (SELECT bucket,
           |        CAST(ROUND(ln((c_t + 1.0) / (n_t + 1024)) - ln((c_r + 1.0) / (n_r + 1024)), 6)
           |          AS DECIMAL(18,6)) AS lr FROM cnt, tot),
           |w AS (SELECT doc_id, CAST(sum(lr) AS DECIMAL(38,6)) AS logw
           |      FROM bb JOIN lr USING (bucket) GROUP BY doc_id),
           |sc AS (SELECT doc_id, logw,
           |        logw + CAST(ROUND(-ln(-ln((CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0)), 6) AS DECIMAL(18,6)) AS score
           |       FROM w)
           |SELECT s.doc_id, d.lang,
           | CAST(CAST(s.logw AS VARCHAR) AS DOUBLE) AS logw,
           | CAST(CAST(s.score AS VARCHAR) AS DOUBLE) AS score
           |FROM sc s JOIN documents d ON s.doc_id = d.doc_id
           |ORDER BY s.score DESC, s.doc_id LIMIT 50""".stripMargin,
      "quality_model_fit" ->
        // replay the sufficient-statistics probe fit: integer moments
        // (DuckDB sums in HUGEINT — exact like Spark's DECIMAL(38,0))
        // routed to DOUBLE via VARCHAR (correct rounding), then the
        // IDENTICAL Cramer/SSE/eval expression order as linearProbeFit
        s"""WITH $probeFitCtes,
           |s2 AS (SELECT n_rows, w0, w1, w2,
           |  sy - (2.0 * (w0 * sy + w1 * sx1y + w2 * sx2y)) +
           |    (w0 * w0 * CAST(n_rows AS DOUBLE) + w1 * w1 * sx11 + w2 * w2 * sx22 +
           |     2.0 * w0 * w1 * sx1 + 2.0 * w0 * w2 * sx2 + 2.0 * w1 * w2 * sx12) AS sse
           |  FROM w),
           |ev AS (SELECT sum(CASE WHEN ((w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE)) > 0.5) = (y = 1)
           |        THEN 1 ELSE 0 END) AS n_correct FROM t, s2)
           |SELECT n_rows, w0, w1, w2, sse, CAST(n_correct AS BIGINT) AS n_correct,
           | CAST(n_correct AS DOUBLE) / CAST(n_rows AS DOUBLE) AS accuracy
           |FROM s2, ev""".stripMargin,
      "data_url_canon" ->
        // replay the synthesis + canonicalization byte-for-byte: all
        // regexes are anchored/single-occurrence (Spark regexp_replace
        // is global, DuckDB first-match — anchoring makes them agree)
        """WITH s AS (SELECT doc_id,
          |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
          |  || source || '.Example.COM'
          |  || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
          |  || '/docs/' || CAST(doc_id % 40 AS VARCHAR)
          |  || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
          |  || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=x'
          |      ELSE '?id=' || CAST(doc_id % 5 AS VARCHAR) END)
          |  || (CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END) AS u
          |  FROM documents),
          |c1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS nofrag FROM s),
          |c2 AS (SELECT doc_id,
          |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          |  regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM c1),
          |c3 AS (SELECT doc_id, scheme,
          |  lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
          |  regexp_replace(rest, '^[^/?]*', '') AS pathq FROM c2),
          |c4 AS (SELECT doc_id, scheme,
          |  regexp_replace(regexp_replace(hostport, ':(443|80)$', ''), '^www\.', '') AS host,
          |  regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path1,
          |  list_sort(list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
          |    p -> len(p) > 0 AND NOT starts_with(p, 'utm_'))) AS params FROM c3),
          |c5 AS (SELECT doc_id,
          |  scheme || '://' || host
          |  || (CASE WHEN len(path1) = 0 THEN '/' ELSE path1 END)
          |  || (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END)
          |  AS canonical_url FROM c4)
          |SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
          |FROM c5 GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
      "text_ccnet_buckets" ->
        // replay the CCNet bucketing: bigram familiarity (integer cf
        // sums, one double division), exact percent_rank per language
        // over the (fam, doc_id) total order, tercile split at pct·3,
        // integer-mass aggregates per (lang, bucket)
        s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
           |bgu AS (SELECT doc_id, unnest(${shingles("tk", 2)}) AS bigram FROM t),
           |bg AS (SELECT doc_id, bigram FROM bgu WHERE bigram <> ''),
           |corpus AS (SELECT bigram, count(*) AS cf FROM bg GROUP BY bigram),
           |f AS (SELECT doc_id, count(*) AS nb, CAST(sum(cf) AS BIGINT) AS scf
           |      FROM bg JOIN corpus USING (bigram) GROUP BY doc_id),
           |d AS (SELECT t.doc_id, t.lang, f.nb, f.scf,
           |       CAST(f.scf AS DOUBLE) / CAST(f.nb AS DOUBLE) AS fam
           |      FROM t JOIN f USING (doc_id)),
           |p AS (SELECT lang, nb, scf,
           |       percent_rank() OVER (PARTITION BY lang ORDER BY fam, doc_id) AS pct
           |      FROM d),
           |b AS (SELECT lang,
           |       CASE WHEN pct * 3 >= 2 THEN 'head'
           |            WHEN pct * 3 >= 1 THEN 'middle' ELSE 'tail' END AS bucket,
           |       nb, scf FROM p)
           |SELECT lang, bucket, count(*) AS n_docs,
           | CAST(sum(nb) AS BIGINT) AS n_bigrams,
           | CAST(CAST(sum(scf) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(nb) AS BIGINT) AS DOUBLE) AS avg_familiarity
           |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
      "multimodal_phash_dedup" ->
        // replay the aHash grid/threshold/signature arithmetic and the
        // QUADRATIC hamming truth — the engine's banded candidates +
        // exact verify must produce exactly this pair set (9 bands of
        // 14 bits guarantee recall at hamming ≤ 8)
        """WITH src AS (
          |  SELECT doc_id AS id, text AS payload FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000 AS id,
          |    substr(text, 1, 4) || 'z' || substr(text, 6) AS payload
          |  FROM documents WHERE doc_id % 5 = 0),
          |nn AS (SELECT id, payload, greatest(length(payload), 1)::BIGINT AS n FROM src),
          |px AS (SELECT id, i,
          |        CASE WHEN length(payload) = 0 THEN 0
          |          ELSE ascii(substr(payload, CAST(1 + floor(i * (n - 1) / 125.0) AS INT), 1))
          |        END::BIGINT AS pix
          |       FROM nn CROSS JOIN (SELECT unnest(range(0, 126)) AS i)),
          |s AS (SELECT id, sum(pix) AS sp FROM px GROUP BY id),
          |g AS (SELECT px.id,
          |       sum(CASE WHEN pix * 126 > sp AND i < 63 THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS sig_hi,
          |       sum(CASE WHEN pix * 126 > sp AND i >= 63 THEN (1::BIGINT << (i - 63)) ELSE 0::BIGINT END) AS sig_lo
          |      FROM px JOIN s USING (id) GROUP BY px.id)
          |SELECT a.id AS a_id, b.id AS b_id,
          | CAST(bit_count(xor(a.sig_hi, b.sig_hi)) + bit_count(xor(a.sig_lo, b.sig_lo)) AS INT) AS hamming
          |FROM g a JOIN g b ON a.id < b.id
          |WHERE bit_count(xor(a.sig_hi, b.sig_hi)) + bit_count(xor(a.sig_lo, b.sig_lo)) <= 8
          |ORDER BY a_id, b_id""".stripMargin,
      "dedup_cross_modal" ->
        // both quadratic truths over the SAME synthesized corpus — the
        // string-shingle jaccard (dedup_ngram_jaccard convention) and
        // the aHash grid/threshold/signature hamming replay
        // (multimodal_phash_dedup fragment) — full-outer joined on the
        // pair; booleans coalesce, the modality label is derived
        s"""WITH src AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000 AS id,
           |    substr(text, 1, 4) || 'z' || substr(text, 6) AS text
           |  FROM documents WHERE doc_id % 5 = 0),
           |tk AS (SELECT id, $toks AS tk FROM src),
           |shg AS MATERIALIZED (SELECT id, list_distinct(${shingles("tk", 3)}) AS s FROM tk),
           |${jaccardCte("ji", "shg", "id")},
           |tp AS (
           |  SELECT a_id, b_id
           |  FROM ji
           |  WHERE $jaccard >= 0.8),
           |nn AS (SELECT id, text AS payload, greatest(length(text), 1)::BIGINT AS n FROM src),
           |px AS (SELECT id, i,
           |        CASE WHEN length(payload) = 0 THEN 0
           |          ELSE ascii(substr(payload, CAST(1 + floor(i * (n - 1) / 125.0) AS INT), 1))
           |        END::BIGINT AS pix
           |       FROM nn CROSS JOIN (SELECT unnest(range(0, 126)) AS i)),
           |ps AS (SELECT id, sum(pix) AS sp FROM px GROUP BY id),
           |g AS (SELECT px.id,
           |       sum(CASE WHEN pix * 126 > sp AND i < 63 THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS sig_hi,
           |       sum(CASE WHEN pix * 126 > sp AND i >= 63 THEN (1::BIGINT << (i - 63)) ELSE 0::BIGINT END) AS sig_lo
           |      FROM px JOIN ps USING (id) GROUP BY px.id),
           |mp AS (
           |  SELECT a.id AS a_id, b.id AS b_id
           |  FROM g a JOIN g b ON a.id < b.id
           |  WHERE bit_count(xor(a.sig_hi, b.sig_hi)) + bit_count(xor(a.sig_lo, b.sig_lo)) <= 8)
           |SELECT COALESCE(tp.a_id, mp.a_id) AS a_id,
           |  COALESCE(tp.b_id, mp.b_id) AS b_id,
           |  tp.a_id IS NOT NULL AS text_dup,
           |  mp.a_id IS NOT NULL AS media_dup,
           |  CASE WHEN tp.a_id IS NOT NULL AND mp.a_id IS NOT NULL THEN 'both'
           |       WHEN tp.a_id IS NOT NULL THEN 'text_only'
           |       ELSE 'media_only' END AS modality
           |FROM tp FULL OUTER JOIN mp ON tp.a_id = mp.a_id AND tp.b_id = mp.b_id
           |ORDER BY a_id, b_id""".stripMargin,
      "ann_mips" ->
        // exact brute-force MIPS replay (raw dot products, the shared
        // left-fold dotExpr, round 6, rightmost tie on neighbor_id);
        // the reduction's IVF recall is engine-measured and stated as
        // the invariant constant (the ann_lsh convention)
        s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |scored AS (
           | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |  ROUND($dotExpr, 6) AS dot
           | FROM base a JOIN base b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
           |ranked AS (
           | SELECT query_id, neighbor_id, dot,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS INT) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, dot, true AS mips_recall_ok
           |FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin,
      "data_active_learning" ->
        // refit the probe (shared CTEs), score every doc with the same
        // fixed double expression, take the 40 nearest the ½ boundary
        s"""WITH $probeFitCtes,
           |sc AS (SELECT doc_id, lang,
           |        w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE) AS pred
           |       FROM t, w)
           |SELECT doc_id, lang, pred, abs(pred - 0.5) AS uncertainty
           |FROM sc ORDER BY uncertainty, doc_id LIMIT 40""".stripMargin,
      "text_bpe_train" ->
        // replay the FULL BPE training loop: 8 unrolled rounds of
        // (tf-weighted pair count over the vocab → lexicographic-min
        // argmax → greedy left-to-right merge as ONE literal replace
        // under the double-separator encoding — ␟a␟␟b␟ → ␟ab␟ consumes
        // only the inner boundary separators, so adjacent disjoint
        // occurrences merge in one pass and overlaps resolve greedily,
        // exactly like the engine)
        s"""$bpePrefix
           |SELECT * FROM ($bpeUnions) ORDER BY step""".stripMargin,
      "text_bpe_encode" ->
        // the APPLY side: corpus compression stats over the final vocab
        // state v8 of the same unrolled training chain
        s"""$bpePrefix,
           |st AS (SELECT tf,
           |  CAST(len(string_split(trim(sym, chr(31)), chr(31) || chr(31))) AS BIGINT) AS n_sym,
           |  CAST(length(replace(sym, chr(31), '')) AS BIGINT) AS n_chars FROM v8)
           |SELECT count(*) AS n_words, CAST(sum(tf) AS BIGINT) AS total_occurrences,
           | CAST(sum(n_chars * tf) AS BIGINT) AS total_chars,
           | CAST(sum(n_sym * tf) AS BIGINT) AS total_tokens,
           | CAST(CAST(sum(n_sym * tf) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE) AS tokens_per_word,
           | CAST(CAST(sum(n_sym * tf) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(n_chars * tf) AS BIGINT) AS DOUBLE) AS compression
           |FROM st""".stripMargin,
      "quality_ece" ->
        // shared probe-fit CTEs; confidences rounded to 9 and summed in
        // DECIMAL (order-independent); the ≤10-term ECE fold in bin
        // order via list(ORDER BY bin) + list_reduce (≡ Spark's
        // sort_array + aggregate: 0.0 + x = x exactly)
        s"""WITH $probeFitCtes,
           |sc AS (SELECT y,
           |  least(greatest(CAST(floor((w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE)) * 10) AS BIGINT), 0), 9) AS bin,
           |  CAST(ROUND(w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE), 9) AS DECIMAL(20,9)) AS p9
           | FROM t, w),
           |b AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
           |   CAST(CAST(CAST(sum(p9) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS sum_conf
           |  FROM sc GROUP BY bin),
           |b3 AS (SELECT bin, n, n_pos,
           |   CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
           |   sum_conf / CAST(n AS DOUBLE) AS avg_conf,
           |   abs(sum_conf / CAST(n AS DOUBLE) - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS gap
           |  FROM b),
           |e AS (SELECT list_reduce(list(gap * CAST(n AS DOUBLE) ORDER BY bin), (x, y) -> x + y) AS gap_sum,
           |        CAST(sum(n) AS BIGINT) AS n_tot FROM b3)
           |SELECT b3.bin, b3.n, b3.n_pos, b3.frac_pos, b3.avg_conf, b3.gap,
           | e.gap_sum / CAST(e.n_tot AS DOUBLE) AS ece
           |FROM b3, e ORDER BY bin""".stripMargin,
      "vec_bitext_mining" ->
        // full replay: unit vectors, exact DECIMAL(9,6) cosines over the
        // cross-side product, exact decimal top-4 neighborhood means,
        // fixed-order double margin ratio, threshold 1.1
        """WITH u AS (SELECT vec_id AS id, label % 2 AS side,
          |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v FROM embeddings),
          |nrm AS (SELECT id, side,
          |    list_transform(v, e -> e / sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b))) AS unit
          |  FROM u),
          |xs AS (SELECT id AS x_id, unit AS xv FROM nrm WHERE side = 0),
          |ys AS (SELECT id AS y_id, unit AS yv FROM nrm WHERE side <> 0),
          |cross0 AS MATERIALIZED (SELECT x_id, y_id,
          |  CAST(ROUND(list_reduce(list_transform(list_zip(xv, yv), p -> p[1]*p[2]), (a,b) -> a+b), 6) AS DECIMAL(9,6)) AS cos
          |  FROM xs, ys),
          |mx AS (SELECT x_id, CAST(CAST(CAST(sum(cos) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) / 4 AS mx FROM (
          |  SELECT x_id, cos, row_number() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id) AS r FROM cross0)
          |  WHERE r <= 4 GROUP BY x_id),
          |my AS (SELECT y_id, CAST(CAST(CAST(sum(cos) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) / 4 AS my FROM (
          |  SELECT y_id, cos, row_number() OVER (PARTITION BY y_id ORDER BY cos DESC, x_id) AS r FROM cross0)
          |  WHERE r <= 4 GROUP BY y_id),
          |m AS (SELECT x_id, y_id, CAST(cos AS DOUBLE) / ((mx + my) / 2) AS margin
          |      FROM cross0 JOIN mx USING (x_id) JOIN my USING (y_id))
          |SELECT x_id, y_id, ROUND(margin, 6) AS margin FROM m
          |WHERE margin >= 1.1 ORDER BY x_id, y_id""".stripMargin,
      "data_kfold" ->
        // within-stratum md5 rank → fold = rank % 5 (the banded-rank
        // core ≡ plain row_number over the (h, doc_id) total order)
        """WITH dmd AS (SELECT doc_id, lang,
          |  md5('kf:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
          |r AS (SELECT lang, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk FROM dmd),
          |f AS (SELECT lang, (rk - 1) % 5 AS fold FROM r),
          |g AS (SELECT lang, fold, count(*) AS n_docs FROM f GROUP BY 1, 2),
          |b AS (SELECT lang, max(n_docs) - min(n_docs) <= 1 AS balanced FROM g GROUP BY lang)
          |SELECT g.lang, CAST(fold AS BIGINT) AS fold, n_docs, balanced
          |FROM g JOIN b USING (lang) ORDER BY lang, fold""".stripMargin,
      "q67_group_order_all" ->
        // identical GROUP BY ALL / ORDER BY ALL spelling (DuckDB
        // supports both); only the decimal→double cast takes the
        // VARCHAR route
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          | CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS qty
          |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,
      "vec_binary_quant" ->
        // full replay: sign-bit hamming (integer list fold), exact
        // cosines, cos(π·h/64) estimator rounded 6, decimal error sums
        s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |p AS MATERIALIZED (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |  CAST(len(list_filter(list_zip(a.vec, b.vec), z -> (z[1] > 0) <> (z[2] > 0))) AS INT) AS hamming,
           |  ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) AS cosine
           | FROM base a JOIN base b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
           |ht AS (SELECT query_id, neighbor_id,
           |   CAST(ROUND(abs(ROUND(cos(3.141592653589793e0 * hamming / 64), 6) - cosine), 6) AS DECIMAL(9,6)) AS err
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS r FROM p)
           |  WHERE r <= 5),
           |ct AS (SELECT query_id, neighbor_id
           |  FROM (SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS r FROM p)
           |  WHERE r <= 5),
           |hits AS (SELECT ht.query_id, count(*) AS hits FROM ht JOIN ct USING (query_id, neighbor_id) GROUP BY 1),
           |e AS (SELECT query_id,
           |  CAST(CAST(CAST(sum(err) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) / 5 AS mean_est_err
           | FROM ht GROUP BY query_id)
           |SELECT e.query_id, CAST(COALESCE(hits, 0) AS BIGINT) AS hits, mean_est_err
           |FROM e LEFT JOIN hits USING (query_id) ORDER BY query_id""".stripMargin,
      "data_psi" ->
        // binned PSI replay: integer bins/counts, Laplace smoothing,
        // per-bin term rounded to 9 (ln skew absorbed at ≤10 sites),
        // bin-order list fold
        """WITH e AS (SELECT event_id % 2 = 0 AS is_base,
          |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
          |b AS (SELECT least(greatest(cents // 10000, 0), 9) AS bin,
          |   CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
          |   CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
          |  FROM e GROUP BY 1),
          |t AS (SELECT CAST(sum(n_base) AS BIGINT) AS nb, CAST(sum(n_cur) AS BIGINT) AS nc FROM b),
          |tm AS (SELECT bin, n_base, n_cur,
          |   CAST(n_base + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE) AS p,
          |   CAST(n_cur + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE) AS q
          |  FROM b, t),
          |tm2 AS (SELECT bin, n_base, n_cur, p, q,
          |   ROUND((p - q) * ln(p / q), 9) AS term FROM tm),
          |s AS (SELECT list_reduce(list(term ORDER BY bin), (x, y) -> x + y) AS psi FROM tm2)
          |SELECT bin, n_base, n_cur, p, q, term, psi FROM tm2, s ORDER BY bin""".stripMargin,
      "events_ab_cuped" ->
        // full CUPED replay: per-user pre/post integer sums, md5 arm
        // split, HUGEINT moments routed to DOUBLE via VARCHAR, pooled
        // folds in arm order, identical θ/ρ²/mean expression order
        """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
          |   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
          |t0 AS (SELECT min(ts_us) AS tmin FROM ev),
          |pu AS (SELECT user_id,
          |   CAST(sum(CASE WHEN ts_us < tmin + 1296000000000 THEN cents ELSE 0 END) AS BIGINT) AS x,
          |   CAST(sum(CASE WHEN ts_us >= tmin + 1296000000000 THEN cents ELSE 0 END) AS BIGINT) AS y
          |  FROM ev, t0 GROUP BY user_id),
          |aa AS (SELECT CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
          |    THEN 'A' ELSE 'B' END AS arm, x, y FROM pu),
          |m AS (SELECT arm, count(*) AS n,
          |   CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
          |   CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
          |   CAST(CAST(sum(x::HUGEINT * x) AS VARCHAR) AS DOUBLE) AS sxx,
          |   CAST(CAST(sum(y::HUGEINT * y) AS VARCHAR) AS DOUBLE) AS syy,
          |   CAST(CAST(sum(x::HUGEINT * y) AS VARCHAR) AS DOUBLE) AS sxy
          |  FROM aa GROUP BY arm),
          |p AS (SELECT CAST(sum(n) AS BIGINT) AS pn,
          |   list_reduce(list(sx ORDER BY arm), (a, b) -> a + b) AS psx,
          |   list_reduce(list(sy ORDER BY arm), (a, b) -> a + b) AS psy,
          |   list_reduce(list(sxx ORDER BY arm), (a, b) -> a + b) AS psxx,
          |   list_reduce(list(syy ORDER BY arm), (a, b) -> a + b) AS psyy,
          |   list_reduce(list(sxy ORDER BY arm), (a, b) -> a + b) AS psxy
          |  FROM m),
          |p2 AS (SELECT pn, psx / CAST(pn AS DOUBLE) AS xbar,
          |   (CAST(pn AS DOUBLE) * psxy - psx * psy) / (CAST(pn AS DOUBLE) * psxx - psx * psx) AS theta,
          |   ((CAST(pn AS DOUBLE) * psxy - psx * psy) * (CAST(pn AS DOUBLE) * psxy - psx * psy))
          |     / ((CAST(pn AS DOUBLE) * psxx - psx * psx) * (CAST(pn AS DOUBLE) * psyy - psy * psy)) AS rho2
          |  FROM p)
          |SELECT arm, n, sy / CAST(n AS DOUBLE) AS mean_y,
          | sy / CAST(n AS DOUBLE) - theta * (sx / CAST(n AS DOUBLE) - xbar) AS mean_y_adj,
          | theta, 1.0 - rho2 AS var_ratio
          |FROM m, p2 ORDER BY arm""".stripMargin,
      "text_entropy" ->
        // H = ln(n) − (1/n)Σ c·ln(c): ln rounded once per DISTINCT
        // (doc, token) count, c-weighted decimal fold, fixed doubles
        s"""WITH tc AS (SELECT doc_id, tok, count(*) AS c
           |  FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
           |  WHERE tok <> '' GROUP BY doc_id, tok),
           |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           |   count(*) AS n_distinct,
           |   CAST(CAST(CAST(sum(c::DECIMAL(19,0) * CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)))
           |     AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS clnc
           |  FROM tc GROUP BY doc_id)
           |SELECT doc_id, n_tokens, n_distinct,
           | ROUND(ln(CAST(n_tokens AS DOUBLE)) - clnc / CAST(n_tokens AS DOUBLE), 9) AS entropy,
           | ROUND(ROUND(ln(CAST(n_tokens AS DOUBLE)) - clnc / CAST(n_tokens AS DOUBLE), 9)
           |   / ROUND(ln(CAST(n_tokens AS DOUBLE)), 9), 9) AS efficiency
           |FROM a WHERE n_tokens > 1 ORDER BY doc_id""".stripMargin,
      "vec_silhouette" ->
        // simplified silhouette: k=8 smallest-id centroids, round-6
        // squared euclidean, own = lexicographic-(d2,cid) min row,
        // other = min over the remaining rows, per-cell decimal mean
        """WITH base AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          |c AS MATERIALIZED (SELECT vec_id AS cid, vec AS cv FROM base ORDER BY vec_id LIMIT 8),
          |d AS (SELECT b.vec_id, c.cid,
          |  ROUND(list_reduce(list_transform(list_zip(b.vec, c.cv), p -> (p[1]-p[2])*(p[1]-p[2])), (x,y) -> x+y), 6) AS d2
          | FROM base b CROSS JOIN c),
          |r AS (SELECT vec_id, cid, d2,
          |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM d),
          |s AS (SELECT o.vec_id, o.cid AS cluster_id,
          |  CASE WHEN greatest(o.d2, n.d2) = 0 THEN 0.0
          |       ELSE ROUND((n.d2 - o.d2) / greatest(o.d2, n.d2), 6) END AS s
          | FROM (SELECT * FROM r WHERE rk = 1) o
          | JOIN (SELECT vec_id, min(d2) AS d2 FROM r WHERE rk > 1 GROUP BY vec_id) n USING (vec_id))
          |SELECT cluster_id, COUNT(*)::BIGINT AS n_members,
          | ROUND(CAST(CAST(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)
          |   / COUNT(*), 6) AS mean_silhouette
          |FROM s GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
      "text_c4_rules" ->
        // C4 battery: string predicates + integer ppm, one scan
        s"""WITH m AS (SELECT
           |  right(trim(text), 1) AS last_ch,
           |  (length(text) - length(translate(text, '.!?', '')))::BIGINT AS n_sent,
           |  len($toks)::BIGINT AS n_words,
           |  contains(lower(text), 'lorem ipsum') AS has_lorem,
           |  contains(text, '{') AS has_brace,
           |  (contains(lower(text), 'cookie policy') OR contains(lower(text), 'privacy policy')
           |    OR contains(lower(text), 'terms of use')) AS has_policy
           | FROM documents),
           |v AS (SELECT unnest([
           |  {'rule': 'ends_terminal', 'fail': last_ch NOT IN ('.', '!', '?', '"')},
           |  {'rule': 'min_sentences', 'fail': n_sent < 3},
           |  {'rule': 'min_words', 'fail': n_words < 5},
           |  {'rule': 'lorem_ipsum', 'fail': has_lorem},
           |  {'rule': 'curly_brace', 'fail': has_brace},
           |  {'rule': 'policy_phrase', 'fail': has_policy},
           |  {'rule': 'any_rule', 'fail': last_ch NOT IN ('.', '!', '?', '"') OR n_sent < 3
           |     OR n_words < 5 OR has_lorem OR has_brace OR has_policy}]) AS u
           | FROM m)
           |SELECT u.rule AS rule, COUNT(*)::BIGINT AS n_docs,
           | SUM(CASE WHEN u.fail THEN 1 ELSE 0 END)::BIGINT AS n_fail,
           | SUM(CASE WHEN u.fail THEN 1 ELSE 0 END)::BIGINT * 1000000 // COUNT(*)::BIGINT AS fail_ppm
           |FROM v GROUP BY u.rule ORDER BY rule""".stripMargin,
      "dedup_bbit_minhash" ->
        // b=1-bit minhash audit: the jaccardPairsSql pair set (n=2,
        // τ=0.7), md5-derived 32-hash signatures replayed bit-for-bit,
        // est = (2·agree − 32)/32 exact in binary, jaccard rounded 6
        // the distinct-shingle set is materialized ONCE per doc in sh
        // (the jaccardPairsSql shape) — a list_distinct inside the join
        // predicate would re-evaluate per PAIR and cost ~100s; min over
        // distinct elements equals min over raw, so the bit stage can
        // unnest the same deduped set
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id, b_id,
           |  ROUND($jaccard, 6) AS exact_jaccard
           | FROM ji
           | WHERE $jaccard >= 0.7),
           |ids AS (SELECT DISTINCT id FROM
           |  (SELECT a_id AS id FROM p UNION ALL SELECT b_id AS id FROM p)),
           |ex AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id IN (SELECT id FROM ids)),
           |hv AS (SELECT e.doc_id, u.i,
           |  CAST(('0x' || substr(md5(concat(u.i, ':', e.g)), 1, 15)) AS BIGINT) AS hv
           | FROM ex e CROSS JOIN (SELECT unnest(range(0, 32)) AS i) u),
           |bits AS (SELECT doc_id, i, CAST(min(hv) % 2 AS INT) AS bit
           | FROM hv GROUP BY doc_id, i),
           |ag AS (SELECT p.a_id, p.b_id,
           |  SUM(CASE WHEN ba.bit = bb.bit THEN 1 ELSE 0 END)::BIGINT AS n_agree
           | FROM p
           | JOIN bits ba ON ba.doc_id = p.a_id
           | JOIN bits bb ON bb.doc_id = p.b_id AND bb.i = ba.i
           | GROUP BY 1, 2)
           |SELECT ag.a_id, ag.b_id, ag.n_agree,
           | (2 * ag.n_agree - 32) / 32.0 AS est_jaccard,
           | p.exact_jaccard,
           | ROUND(abs((2 * ag.n_agree - 32) / 32.0 - p.exact_jaccard), 6) AS abs_err
           |FROM ag JOIN p USING (a_id, b_id) ORDER BY a_id, b_id""".stripMargin,
      "text_fim" ->
        // FIM replay: md5-ring cut points (p ∈ [1,n−2], m ∈ [1,n−p−1]),
        // 1-based inclusive slices mirror Spark's slice(start, len)
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |b AS (SELECT doc_id AS id, tk, len(tk)::BIGINT AS n FROM t WHERE len(tk) >= 4),
           |c AS (SELECT id, tk, n,
           |  1 + CAST(('0x' || substr(md5('fim_a_' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) % (n - 2) AS p
           | FROM b),
           |c2 AS (SELECT id, tk, n, p,
           |  1 + CAST(('0x' || substr(md5('fim_b_' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) % (n - p - 1) AS m
           | FROM c)
           |SELECT id, n AS n_tokens, p AS n_prefix, m AS n_middle,
           | '<PRE> ' || array_to_string(tk[1:p], ' ')
           | || ' <SUF> ' || array_to_string(tk[p+m+1:n], ' ')
           | || ' <MID> ' || array_to_string(tk[p+1:p+m], ' ') AS fim_text
           |FROM c2 ORDER BY id""".stripMargin,
      "data_epoch_plan" ->
        // integer-exact mixture plan: ppm weights × 2.5M budget
        s"""WITH t AS (SELECT lang AS source,
           |  (CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 150000 WHEN 'fr' THEN 150000
           |             WHEN 'es' THEN 100000 WHEN 'zh' THEN 100000 END)::BIGINT AS w_ppm,
           |  len($toks)::BIGINT AS t FROM documents
           |  WHERE lang IN ('en','de','fr','es','zh'))
           |SELECT source, w_ppm, COUNT(*)::BIGINT AS n_docs, SUM(t)::BIGINT AS available_tokens,
           | w_ppm * 2500000 // 1000000 AS target_tokens,
           | (w_ppm * 2500000 // 1000000) * 1000000 // SUM(t)::BIGINT AS epochs_ppm,
           | (w_ppm * 2500000 // 1000000) * 1000000 // SUM(t)::BIGINT > 1000000 AS oversampled
           |FROM t GROUP BY source, w_ppm ORDER BY source""".stripMargin,
      "text_distinct_n" ->
        s"""WITH t AS (SELECT lang, $toks AS tk FROM documents),
           |u AS (SELECT lang, 1 AS n, unnest(tk) AS g FROM t),
           |b AS (SELECT lang, 2 AS n, unnest(${shingles("tk", 2)}) AS g FROM t),
           |a AS (SELECT * FROM u WHERE g <> '' UNION ALL SELECT * FROM b WHERE g <> '')
           |SELECT lang, n, COUNT(*)::BIGINT AS total, COUNT(DISTINCT g)::BIGINT AS n_distinct,
           | COUNT(DISTINCT g)::BIGINT * 1000000 // COUNT(*)::BIGINT AS distinct_ppm
           |FROM a GROUP BY lang, n ORDER BY lang, n""".stripMargin,
      "text_kn_bigram" ->
        // Kneser-Ney replay: integer components; the probability's
        // double literals in E-NOTATION (7.5e-1) so DuckDB parses DOUBLE
        // not DECIMAL, and the evaluation order mirrors the engine
        s"""WITH t AS (SELECT $toks AS tk FROM documents),
           |bg AS MATERIALIZED (SELECT u.a AS w1, u.b AS w2, COUNT(*)::BIGINT AS c FROM
           |  (SELECT unnest(list_transform(range(1, len(tk)), i -> {'a': tk[i], 'b': tk[i+1]})) AS u
           |   FROM t WHERE len(tk) >= 2)
           | GROUP BY 1, 2),
           |m1 AS (SELECT w1, SUM(c)::BIGINT AS c_w1, COUNT(*)::BIGINT AS n1p_w1 FROM bg GROUP BY w1),
           |m2 AS (SELECT w2, COUNT(*)::BIGINT AS n1p_w2 FROM bg GROUP BY w2),
           |nt AS (SELECT COUNT(*)::BIGINT AS n_types FROM bg),
           |top AS (SELECT bg.w1, bg.w2, bg.c, m1.c_w1, m1.n1p_w1, m2.n1p_w2, nt.n_types
           |  FROM bg JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN nt
           |  ORDER BY bg.c DESC, bg.w1, bg.w2 LIMIT 30)
           |SELECT w1, w2, c AS n_pair, c_w1 AS n_left_total, n1p_w1 AS n_left_types,
           | n1p_w2 AS n_right_types, n_types,
           | ROUND((c - 7.5e-1) / c_w1 + 7.5e-1 * n1p_w1 / c_w1 * (CAST(n1p_w2 AS DOUBLE) / n_types), 6) AS p_kn
           |FROM top ORDER BY n_pair DESC, w1, w2""".stripMargin,
      "text_span_corrupt" ->
        // T5 replay: block structs → (s, L) level → CASE-masked parts;
        // s guarded with greatest(L−3, 1) since it is computed outside
        // the CASE (values only consumed when L ≥ 8, where both agree)
        s"""WITH t AS (SELECT doc_id AS id, $toks AS tk FROM documents),
           |b AS (SELECT id, tk, len(tk)::BIGINT AS n FROM t WHERE len(tk) >= 1),
           |p AS (SELECT id, n, list_transform(
           |  list_transform(
           |    list_transform(range(0, (n + 19) // 20),
           |      b -> {'b': b, 'bt': tk[b*20+1 : least((b+1)*20, n)]}),
           |    x -> {'b': x.b, 'bt': x.bt, 'L': len(x.bt),
           |          's': CAST(('0x' || substr(md5(concat('t5_', id, '_', x.b)), 1, 15)) AS BIGINT)
           |               % greatest(len(x.bt) - 3, 1)}),
           |  y -> CASE WHEN y.L >= 8 THEN
           |         {'corr': y.bt[1:y.s] || [concat('<X_', y.b, '>')] || y.bt[y.s+4:y.L],
           |          'tgt': [concat('<X_', y.b, '>')] || y.bt[y.s+1:y.s+3]}
           |       ELSE {'corr': y.bt, 'tgt': []::VARCHAR[]} END) AS parts
           | FROM b)
           |SELECT id, n AS n_tokens,
           | len(flatten(list_transform(parts, q -> q.tgt)))::BIGINT AS n_target_tokens,
           | array_to_string(flatten(list_transform(parts, q -> q.corr)), ' ') AS corrupted,
           | array_to_string(flatten(list_transform(parts, q -> q.tgt)), ' ') AS target
           |FROM p ORDER BY id""".stripMargin,
      "data_ess" ->
        // the data_dup_weights chain folded to one ESS row; the double
        // divisions replay exactly (int64→double is IEEE round-to-
        // nearest in both engines)
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS tk FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 2)}) AS s FROM t),
           |${jaccardCte("ji", "sh")},
           |p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
           |      FROM ji
           |      WHERE $jaccard >= 0.7),
           |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
           |reach(id, r) AS (
           | SELECT DISTINCT a AS id, a AS r FROM e
           | UNION
           | SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
           |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
           |sz AS (SELECT cluster_id, COUNT(*)::BIGINT AS n FROM lab GROUP BY cluster_id),
           |w AS (SELECT 1000000 // COALESCE(sz.n, 1) AS w
           |      FROM documents d
           |      LEFT JOIN lab ON lab.id = d.doc_id
           |      LEFT JOIN sz ON sz.cluster_id = lab.cluster_id),
           |a AS (SELECT COUNT(*)::BIGINT AS n_docs, SUM(w)::BIGINT AS s,
           |             SUM(w * w)::BIGINT AS q FROM w)
           |SELECT n_docs, s AS sum_w, q AS sum_w2,
           | ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(q AS DOUBLE), 6) AS ess,
           | ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(q AS DOUBLE) / n_docs, 6) AS ess_share
           |FROM a""".stripMargin,
      "q70_ignore_nulls" ->
        // DuckDB's IGNORE NULLS sits INSIDE the call parens; Spark's
        // after them — same semantics, per-dialect spelling
        """SELECT o_custkey, o_orderkey, CAST(price AS DOUBLE) AS price,
          | CAST(LAG(price IGNORE NULLS) OVER w AS DOUBLE) AS prev_price,
          | CAST(LAST_VALUE(price IGNORE NULLS) OVER
          |   (PARTITION BY o_custkey ORDER BY o_orderkey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS carried,
          | CAST(NTH_VALUE(price, 2 IGNORE NULLS) OVER
          |   (PARTITION BY o_custkey ORDER BY o_orderkey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE) AS second_seen
          |FROM (SELECT o_custkey, o_orderkey,
          |        CASE WHEN o_orderkey % 3 = 0 THEN NULL
          |             ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
          |      FROM orders WHERE o_custkey % 50 = 0)
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
          |ORDER BY o_custkey, o_orderkey""".stripMargin,
      "q71_interval_months" ->
        """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
          | CAST(CAST(o_orderdate AS DATE) + to_months(CAST(o_orderkey % 12 AS INT)) AS DATE) AS renewal,
          | last_day(CAST(o_orderdate AS DATE)) AS month_end,
          | CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS quarter_start
          |FROM orders WHERE o_orderkey % 37 = 0
          |ORDER BY o_orderkey""".stripMargin,
      "q69_agg_filter" ->
        """SELECT l_returnflag,
          | COUNT(*)::BIGINT AS n_rows,
          | (COUNT(*) FILTER (WHERE l_quantity > 25))::BIGINT AS n_bulk,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_discounted,
          | (COUNT(DISTINCT l_suppkey) FILTER (WHERE l_tax = 0))::BIGINT AS n_notax_supp
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin,
      "events_mann_whitney" ->
        // 2·avgrank = 2·RANK + ties − 1 (the q65_spearman identity);
        // 2·U_A and Σ(t³−t) exact integers; the tie-corrected z mirrors
        // StatsOps.mannWhitneyByGroup token for token
        """WITH e AS (SELECT event_type AS g,
          |  CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
          |       THEN 'A' ELSE 'B' END AS arm,
          |  CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS v FROM events),
          |r AS (SELECT g, arm,
          |  CAST(2*RANK() OVER (PARTITION BY g ORDER BY v)
          |       + COUNT(*) OVER (PARTITION BY g, v) - 1 AS DECIMAL(19,0)) AS ar2
          | FROM e),
          |t AS (SELECT g, CAST(SUM(c*c*c - c) AS DECIMAL(38,0)) AS tsum
          |      FROM (SELECT g, v, CAST(COUNT(*) AS DECIMAL(38,0)) AS c FROM e GROUP BY g, v)
          |      GROUP BY g),
          |a AS (SELECT g,
          |  COUNT(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
          |  COUNT(CASE WHEN arm <> 'A' THEN 1 END) AS n_b,
          |  CAST(SUM(CASE WHEN arm = 'A' THEN ar2 ELSE 0 END) AS DECIMAL(38,0)) AS r2_a
          | FROM r GROUP BY g),
          |u AS (SELECT g, n_a, n_b,
          |  CAST(r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT) AS u2_a,
          |  CAST(tsum AS BIGINT) AS tie_sum
          | FROM a JOIN t USING (g)),
          |z AS (SELECT g, n_a, n_b, u2_a, tie_sum,
          |  CAST(u2_a AS DOUBLE) / 2.0 AS u_a,
          |  CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
          |  CAST(n_a + n_b AS DOUBLE) AS nd
          | FROM u)
          |SELECT g AS event_type, n_a, n_b, u2_a, tie_sum, u_a,
          | CASE WHEN nad * nbd / 12.0 * ((nd + 1.0) - CAST(tie_sum AS DOUBLE) / (nd * (nd - 1.0))) > 0
          |      THEN (u_a - nad * nbd / 2.0)
          |           / sqrt(nad * nbd / 12.0 * ((nd + 1.0) - CAST(tie_sum AS DOUBLE) / (nd * (nd - 1.0))))
          |      ELSE NULL END AS z
          |FROM z ORDER BY event_type""".stripMargin,
      "quality_pr_curve" ->
        // score CTE = the quality_model_auc replay; curve = descending
        // cumulative over the DISTINCT milli-score domain
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |f AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |b AS (SELECT doc_id,
           |      CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket, tf
           |      FROM f),
           |fb AS (SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf FROM b GROUP BY doc_id, bucket),
           |w AS (SELECT doc_id, tf,
           |      CAST(('0x' || substr(md5('w:' || bucket::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
           |      FROM fb),
           |sc AS (SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS s FROM w GROUP BY doc_id),
           |lab AS (SELECT d.source, sc.s, (d.lang = 'en') AS pos
           |        FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
           |cnt AS (SELECT source, s, COUNT(*) FILTER (pos) AS p, COUNT(*) FILTER (NOT pos) AS q
           |        FROM lab GROUP BY source, s),
           |tot AS (SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos FROM cnt GROUP BY source),
           |cum AS (SELECT source, s,
           |        CAST(SUM(p) OVER (PARTITION BY source ORDER BY s DESC
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
           |        CAST(SUM(q) OVER (PARTITION BY source ORDER BY s DESC
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
           |        FROM cnt)
           |SELECT source, s AS threshold, tp, fp,
           | CAST(n_pos - tp AS BIGINT) AS fn,
           | CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
           | CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall,
           | CASE WHEN tp = 0 THEN 0.0
           |      ELSE 2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
           |             * (CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE))
           |           / ((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
           |              + (CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE))) END AS f1
           |FROM cum JOIN tot USING (source)
           |ORDER BY source, threshold DESC""".stripMargin,
      "text_code_detect" ->
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 5 = 0
          |       THEN 'def process_' || CAST(doc_id AS VARCHAR) || '(x):' || chr(10)
          |            || '    y = x * 2;' || chr(10) || '    return {''k'': y};' || chr(10)
          |            || '# ' || text
          |       ELSE text END AS t
          | FROM documents),
          |f AS (SELECT doc_id,
          |  CAST(len(t) AS BIGINT) AS n_chars,
          |  CAST(len(t) - len(regexp_replace(t, '[{}\[\]();=#<>*+]', '', 'g')) AS BIGINT) AS sym_cnt,
          |  CAST(len(regexp_extract_all(lower(t),
          |    '\b(def|return|import|class|function|const|var|if|else|for|while)\b')) AS BIGINT) AS kw_hits,
          |  CAST(len(str_split(t, chr(10))) AS BIGINT) AS n_lines,
          |  CAST(len(list_filter(str_split(t, chr(10)), l -> l LIKE '    %')) AS BIGINT) AS indent_lines,
          |  CAST(len(regexp_extract_all(t, '[a-z]+_[a-z0-9]+')) AS BIGINT) AS snake_ids
          | FROM d)
          |SELECT doc_id, n_chars, sym_cnt, kw_hits, n_lines, indent_lines, snake_ids,
          | CASE WHEN n_chars = 0 THEN 0.0
          |      ELSE CAST(sym_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS sym_ratio,
          | CAST(indent_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS indent_ratio,
          | ((CASE WHEN n_chars = 0 THEN 0.0
          |        ELSE CAST(sym_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE) END) > 0.03
          |   AND kw_hits >= 2)
          |  OR (CAST(indent_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)) >= 0.2 AS is_code
          |FROM f ORDER BY doc_id""".stripMargin,
      "multimodal_audio_vad" ->
        // frame energies = the documented md5 env-stub kernel; islands
        // by frame_idx − ROW_NUMBER; zero-voiced docs kept via the left
        // join with 0 fills
        """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS bl FROM documents),
          |base AS (SELECT doc_id, bl, CAST(bl % 40 + 10 AS INT) AS n_frames FROM b),
          |f AS (SELECT doc_id, bl, unnest(range(0, n_frames)) AS frame_idx FROM base),
          |e AS (SELECT doc_id, frame_idx,
          |  CAST(('0x' || substr(md5(CAST(bl AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)), 1, 4)) AS BIGINT) AS energy
          | FROM f),
          |v AS (SELECT doc_id, frame_idx FROM e WHERE energy >= 32768),
          |isl AS (SELECT doc_id,
          |  frame_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS island
          | FROM v),
          |seg AS (SELECT doc_id, island, COUNT(*) AS seg_len FROM isl GROUP BY doc_id, island),
          |agg AS (SELECT doc_id, CAST(SUM(seg_len) AS BIGINT) AS n_voiced,
          |        CAST(COUNT(*) AS BIGINT) AS n_segments,
          |        CAST(MAX(seg_len) AS BIGINT) AS longest_seg
          |        FROM seg GROUP BY doc_id)
          |SELECT base.doc_id, CAST(n_frames AS BIGINT) AS n_frames,
          | COALESCE(n_voiced, 0) AS n_voiced, COALESCE(n_segments, 0) AS n_segments,
          | COALESCE(longest_seg, 0) AS longest_seg,
          | CAST(COALESCE(n_voiced, 0) AS DOUBLE) / CAST(n_frames AS DOUBLE) AS voiced_ratio
          |FROM base LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
      "text_mmr" ->
        s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
           |q AS (SELECT vec_id, vec FROM base WHERE vec_id < 6),
           |scored AS (
           | SELECT a.vec_id AS query_id, b.vec_id AS cand_id, b.vec AS cvec,
           |  ROUND($dotExpr / (${normExpr("a")} * ${normExpr("b")}), 6) AS rel
           | FROM q a JOIN base b ON b.vec_id <> a.vec_id),
           |cand AS (SELECT * FROM (
           |  SELECT query_id, cand_id, cvec, rel,
           |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rk
           |  FROM scored) WHERE rk <= 16),
           |sims AS (
           | SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
           |  $mmrDotCv / (${mmrNormCv("a")} * ${mmrNormCv("b")}) AS sim
           | FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
           |s1 AS (SELECT query_id, cand_id, rel, 1 AS mmr_rank, rel AS mmr_score
           |       FROM cand WHERE rk = 1),
           |sel1 AS (SELECT query_id, cand_id FROM s1),
           |$mmrStages
           |SELECT query_id, mmr_rank, cand_id AS neighbor_id, rel AS relevance, mmr_score
           |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
           |      UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5)
           |ORDER BY query_id, mmr_rank""".stripMargin,
      "q72_try_arith" ->
        // TRY_CAST is native; ÷0 and out-of-bounds list index are
        // NULL-safe by construction in the twin
        """WITH t AS (SELECT l_returnflag,
          |  CASE WHEN l_linenumber - 3 = 0 THEN NULL
          |       ELSE CAST(l_extendedprice AS DOUBLE) / CAST(l_linenumber - 3 AS DOUBLE) END AS dv,
          |  TRY_CAST(CASE WHEN l_linenumber % 2 = 0
          |                THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
          |                ELSE 'n/a' END AS INT) AS tc,
          |  ([1, 2, 3])[CAST(l_linenumber AS INT)] AS el
          | FROM lineitem)
          |SELECT l_returnflag, COUNT(*)::BIGINT AS n_rows,
          | COUNT(CASE WHEN dv IS NULL THEN 1 END)::BIGINT AS n_div_null,
          | COUNT(CASE WHEN tc IS NULL THEN 1 END)::BIGINT AS n_cast_null,
          | COUNT(CASE WHEN el IS NULL THEN 1 END)::BIGINT AS n_elem_null,
          | CAST(SUM(tc) AS BIGINT) AS sum_cast
          |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "events_decay_trend" ->
        // integer day counts; decay at read: ascending-age ordered fold
        // of n·0.5^age prepending the 0.0 init — the engine's aggregate()
        // fold token for token
        """WITH e AS (SELECT event_type AS k,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
          |c AS (SELECT k, d, COUNT(*) AS n FROM e GROUP BY k, d),
          |t AS (SELECT MAX(d) AS dmax FROM c),
          |a AS (SELECT k, n, CAST(dmax - d AS INT) AS age FROM c CROSS JOIN t)
          |SELECT k AS event_type, CAST(SUM(n) AS BIGINT) AS n_events,
          | list_reduce(
          |   list_prepend(0.0::DOUBLE,
          |     list(CAST(n AS DOUBLE) * pow(0.5, CAST(age AS DOUBLE)) ORDER BY age)),
          |   (x, y) -> x + y) AS decayed
          |FROM a GROUP BY k ORDER BY event_type""".stripMargin,
      "quality_krippendorff" ->
        // ×2-scaled coincidence algebra: every 2/(m−1) is an integer for
        // m ∈ {2,3}; alpha = 1 − S_o2·(n2−2)/Σ_{c≠k} n2_c·n2_k — one
        // double division, mirroring StatsOps.krippendorffAlpha
        """WITH r AS (SELECT doc_id, rr.r AS rater, lang,
          |  CAST(('0x' || substr(md5('kr' || CAST(rr.r AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
          | FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS r) rr),
          |rr2 AS (SELECT doc_id, rater,
          |  CASE WHEN h % 7 = 0
          |       THEN (['en','de','es','fr','zh'])[CAST((h // 35) % 5 AS INT) + 1]
          |       ELSE lang END AS lab
          | FROM r WHERE h % 5 <> 0),
          |mi AS (SELECT doc_id, COUNT(*) AS m FROM rr2 GROUP BY doc_id HAVING COUNT(*) >= 2),
          |nic AS (SELECT rr2.doc_id, lab, COUNT(*) AS nc, ANY_VALUE(m) AS m
          |        FROM rr2 JOIN mi USING (doc_id) GROUP BY rr2.doc_id, lab),
          |p AS (SELECT a.lab AS c, b.lab AS k,
          |  a.nc * (CASE WHEN a.lab = b.lab THEN b.nc - 1 ELSE b.nc END) * (2 // (a.m - 1)) AS contrib
          | FROM nic a JOIN nic b ON a.doc_id = b.doc_id),
          |o2 AS (SELECT c, k, CAST(SUM(contrib) AS HUGEINT) AS o2 FROM p GROUP BY c, k),
          |s AS (SELECT CAST(COALESCE(SUM(o2) FILTER (c <> k), 0) AS BIGINT) AS s_o2,
          |             CAST(SUM(o2) AS BIGINT) AS n2 FROM o2),
          |mg AS (SELECT c, CAST(SUM(o2) AS BIGINT) AS n2_c FROM o2 GROUP BY c),
          |de AS (SELECT CAST(SUM(CAST(x.n2_c AS HUGEINT) * y.n2_c) AS BIGINT) AS de2
          |       FROM mg x JOIN mg y ON x.c <> y.c),
          |it AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM mi)
          |SELECT n_items, CAST(n2 // 2 AS BIGINT) AS n_ratings_pairable, s_o2, de2,
          | 1.0 - CAST(s_o2 * (n2 - 2) AS DOUBLE) / CAST(de2 AS DOUBLE) AS alpha
          |FROM s CROSS JOIN de CROSS JOIN it""".stripMargin,
      "quality_isotonic" ->
        // UNIQUENESS-based replay: the engine runs PAV; the twin computes
        // the SAME fit by the minimax closed form over bin prefix sums
        // (ŷᵢ = max_{j≤i} min_{k≥i} avg(j..k); IEEE double conversion is
        // monotone, so the double max-min equals the rational optimum)
        s"""WITH $isoCte
           |SELECT pre.g AS source, pre.bin, pre.n, pre.n_pos,
           | CAST(pre.n_pos AS DOUBLE) / CAST(pre.n AS DOUBLE) AS rate_raw,
           | y.yhat AS rate_isotonic
           |FROM pre JOIN y ON pre.g = y.g AND pre.i = y.i
           |ORDER BY source, bin""".stripMargin,
      "quality_brier" ->
        // Murphy decomposition over the isotonic forecasts: the float
        // numerators fold in PINNED bin order (list_reduce), exactly
        // the engine's aggregate() chain
        s"""WITH $isoCte,
           |fin AS (SELECT pre.g, pre.bin, pre.n, pre.n_pos, y.yhat AS p
           |        FROM pre JOIN y ON pre.g = y.g AND pre.i = y.i),
           |agg AS (SELECT g,
           |  CAST(SUM(n) AS BIGINT) AS n_total,
           |  CAST(SUM(n_pos) AS BIGINT) AS n_pos_total,
           |  list_reduce(list_prepend(0.0::DOUBLE, list(
           |    CAST(n AS DOUBLE)
           |      * (p - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
           |      * (p - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY bin)),
           |    (xx, yy) -> xx + yy) AS rel_num,
           |  list_reduce(list_prepend(0.0::DOUBLE, list(
           |    CAST(n AS DOUBLE)
           |      * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
           |      * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY bin)),
           |    (xx, yy) -> xx + yy) AS oo_num
           | FROM fin GROUP BY g)
           |SELECT g AS source, n_total, n_pos_total,
           | CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS o_bar,
           | rel_num / CAST(n_total AS DOUBLE) AS reliability,
           | oo_num / CAST(n_total AS DOUBLE)
           |  - (CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE))
           |    * (CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE)) AS resolution,
           | (CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE))
           |  * (1.0e0 - CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE)) AS uncertainty,
           | rel_num / CAST(n_total AS DOUBLE)
           |  - (oo_num / CAST(n_total AS DOUBLE)
           |     - (CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE))
           |       * (CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE)))
           |  + (CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE))
           |    * (1.0e0 - CAST(n_pos_total AS DOUBLE) / CAST(n_total AS DOUBLE)) AS brier
           |FROM agg ORDER BY source""".stripMargin,
      "quality_mcnemar" -> {
        def scCte(dim: Int, name: String) =
          s"""$name AS (SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS s FROM (
             |  SELECT doc_id, tf,
             |    CAST(('0x' || substr(md5('w:' || CAST(bucket AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
             |  FROM (SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf FROM (
             |    SELECT doc_id,
             |      CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % $dim AS INT) AS bucket, tf
             |    FROM fq) GROUP BY doc_id, bucket)) GROUP BY doc_id)""".stripMargin
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |fq AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |      WHERE token <> '' AND NOT list_contains($stopAll, token)
           |      GROUP BY doc_id, token),
           |${scCte(64, "sca")},
           |${scCte(32, "scb")},
           |j AS (SELECT d.source, (d.lang = 'en') AS y,
           |        (sca.s > 0) AS pa, (scb.s > 0) AS pb
           |      FROM documents d
           |      JOIN sca ON d.doc_id = sca.doc_id
           |      JOIN scb ON d.doc_id = scb.doc_id),
           |g AS (SELECT source, COUNT(*) AS n,
           |  COUNT(CASE WHEN pa = y AND pb = y THEN 1 END) AS n_both,
           |  COUNT(CASE WHEN pa = y AND pb <> y THEN 1 END) AS b,
           |  COUNT(CASE WHEN pa <> y AND pb = y THEN 1 END) AS c,
           |  COUNT(CASE WHEN pa <> y AND pb <> y THEN 1 END) AS n_neither
           | FROM j GROUP BY source)
           |SELECT source, CAST(n AS BIGINT) AS n, CAST(n_both AS BIGINT) AS n_both,
           | CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
           | CAST(n_neither AS BIGINT) AS n_neither,
           | CASE WHEN b + c > 0 THEN
           |   (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
           |     / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END AS chi2,
           | CASE WHEN b + c > 0 THEN
           |   (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0e0)
           |     * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0e0)
           |     / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END AS chi2_cc
           |FROM g ORDER BY source""".stripMargin
      },
      "events_shapley" -> {
        // 6·φ_i literal enumeration over the 8-row coalition-value
        // table, mirroring StatsOps.shapleyAttribution's weights
        // |S|!(2−|S|)! ∈ {2, 1, 1, 2}
        val chans = Seq("view" -> 1, "click" -> 2, "signup" -> 4)
        def vOf(s: Int) = s"(SELECT v FROM v WHERE s = $s)"
        val rows = chans.map { case (name, bit) =>
          val terms = (0 to 7).filter(s => (s & bit) == 0).map { s =>
            val k = Integer.bitCount(s)
            val w = (1 to k).product * (1 to (2 - k)).product
            s"$w * (${vOf(s | bit)} - ${vOf(s)})"
          }.mkString(" + ")
          s"""SELECT '$name' AS channel, CAST($terms AS BIGINT) AS phi6,
             |  CAST(CAST($terms AS BIGINT) AS DOUBLE) / 6.0 AS phi,
             |  ${vOf(7)} AS v_all, ${vOf(0)} AS v_none""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH pu AS (SELECT user_id,
           |  MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           |  + MAX(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
           |  + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS mask,
           |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           | FROM events GROUP BY user_id),
           |cnt AS (SELECT mask, COUNT(*) AS c FROM pu WHERE conv = 1 GROUP BY mask),
           |v AS (SELECT ss.s AS s, CAST(COALESCE(SUM(cnt.c), 0) AS BIGINT) AS v
           |      FROM (SELECT unnest(range(0, 8)) AS s) ss
           |      LEFT JOIN cnt ON (cnt.mask & ss.s) = cnt.mask
           |      GROUP BY ss.s)
           |SELECT * FROM (
           |$rows
           |) ORDER BY channel""".stripMargin
      },
      "data_wasserstein" ->
        // W1 = Σ_grid |cum_s·N_all − cum_all·N_s|·(next_v − v) over the
        // merged value grid / (N_s·N_all) — DriftOps.w1Distance
        """WITH cnt AS (SELECT source AS slice, n_chars AS v, COUNT(*) AS c
          |            FROM documents GROUP BY 1, 2),
          |grid AS (SELECT v, SUM(c) AS cg FROM cnt GROUP BY v),
          |g2 AS (SELECT v,
          |  SUM(cg) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all,
          |  LEAD(v) OVER (ORDER BY v) AS next_v FROM grid),
          |na AS (SELECT CAST(SUM(cg) AS BIGINT) AS n_all FROM grid),
          |sl AS (SELECT slice, CAST(SUM(c) AS BIGINT) AS n_s FROM cnt GROUP BY slice),
          |x AS (SELECT sl.slice, sl.n_s, g2.v, g2.cum_all, g2.next_v,
          |      COALESCE(cnt.c, 0) AS c
          |      FROM sl CROSS JOIN g2
          |      LEFT JOIN cnt ON cnt.slice = sl.slice AND cnt.v = g2.v),
          |y AS (SELECT slice, n_s, v, cum_all, next_v,
          |      SUM(c) OVER (PARTITION BY slice ORDER BY v
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s FROM x),
          |t AS (SELECT slice, ANY_VALUE(n_s) AS n, ANY_VALUE(n_all) AS n_all,
          |      SUM(CASE WHEN next_v IS NULL THEN 0
          |          ELSE abs(CAST(cum_s AS HUGEINT) * n_all - CAST(cum_all AS HUGEINT) * n_s)
          |               * (next_v - v) END) AS num
          |      FROM y CROSS JOIN na GROUP BY slice)
          |SELECT slice, n,
          | CAST(CAST(num AS VARCHAR) AS DOUBLE)
          |  / CAST(CAST(CAST(n AS HUGEINT) * n_all AS VARCHAR) AS DOUBLE) AS w1
          |FROM t ORDER BY slice""".stripMargin,
      "data_simpson" ->
        """WITH r AS (SELECT event_type AS stratum,
          |  (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS x,
          |  CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS y FROM events),
          |s AS (SELECT stratum, COUNT(*) AS n,
          |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
          |  SUM(CAST(x AS HUGEINT) * y) AS sxy
          | FROM r GROUP BY stratum),
          |g AS (SELECT CAST(sign(CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
          |        - SUM(CAST(x AS HUGEINT)) * SUM(CAST(y AS HUGEINT))) AS INT) AS agg_sign
          |      FROM r)
          |SELECT stratum AS event_type, CAST(n AS BIGINT) AS n,
          | CAST(sign(CAST(n AS HUGEINT) * sxy - sx * sy) AS INT) AS stratum_sign,
          | agg_sign,
          | (CAST(sign(CAST(n AS HUGEINT) * sxy - sx * sy) AS INT) <> 0
          |   AND agg_sign <> 0
          |   AND CAST(sign(CAST(n AS HUGEINT) * sxy - sx * sy) AS INT) <> agg_sign) AS reversed
          |FROM s CROSS JOIN g ORDER BY event_type""".stripMargin,
      "text_dispersion" ->
        // dense token×part grid; |c_i·T − t_i·C| exact HUGEINTs; ONE
        // double division per token — CorpusOps.dispersionReport
        s"""WITH tp AS (SELECT source AS part, tok, COUNT(*) AS c FROM (
           |  SELECT source, unnest($toks) AS tok FROM documents)
           |  WHERE tok <> '' GROUP BY source, tok),
           |parts AS (SELECT part, CAST(SUM(c) AS HUGEINT) AS t FROM tp GROUP BY part),
           |tot AS (SELECT CAST(SUM(t) AS HUGEINT) AS tt FROM parts),
           |tokens AS (SELECT tok, CAST(SUM(c) AS HUGEINT) AS c_tot FROM tp GROUP BY tok
           |           HAVING SUM(c) >= 50),
           |dense AS (SELECT tokens.tok, tokens.c_tot, parts.part, parts.t,
           |                 COALESCE(tp.c, 0) AS c, tot.tt
           |          FROM tokens CROSS JOIN parts
           |          LEFT JOIN tp ON tp.tok = tokens.tok AND tp.part = parts.part
           |          CROSS JOIN tot),
           |dp AS (SELECT tok, c_tot,
           |  SUM(abs(CAST(c AS HUGEINT) * tt - t * c_tot)) AS num,
           |  ANY_VALUE(tt) AS tt
           | FROM dense GROUP BY tok, c_tot)
           |SELECT tok, CAST(c_tot AS BIGINT) AS n_occurrences,
           | CAST(CAST(num AS VARCHAR) AS DOUBLE)
           |  / CAST(CAST(2 * c_tot * tt AS VARCHAR) AS DOUBLE) AS dp
           |FROM dp ORDER BY dp DESC, tok LIMIT 30""".stripMargin,
      "q75_identifier_clause" ->
        """SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders
          |FROM orders WHERE o_orderstatus = 'F'
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "events_dgim" ->
        // the closed-form DGIM state replayed PER USER (the high-card
        // deployment key, matching the engine side): rᵢ = (n+1)//2ⁱ − 1,
        // dᵢ = 2 − rᵢ%2, newest-member position n − rᵢ·2ⁱ + (t−1)·2ⁱ + 1
        """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
          |            FROM events),
          |o AS MATERIALIZED (SELECT *,
          |  row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn,
          |  COUNT(*) OVER (PARTITION BY user_id) AS n,
          |  MAX(ts_us) OVER (PARTITION BY user_id) AS mx FROM ev),
          |hd AS (SELECT DISTINCT user_id, n, mx FROM o),
          |g AS (SELECT user_id, n, mx, i, t, (CAST(1 AS BIGINT) << i) AS p2,
          |  (n + 1) // (CAST(1 AS BIGINT) << i) - 1 AS r
          | FROM hd, (SELECT unnest(range(0, 40)) AS i), (SELECT unnest([1, 2]) AS t)),
          |bkt AS (SELECT user_id, n, mx, p2,
          |  n - r * p2 + (t - 1) * p2 + 1 AS np
          | FROM g WHERE r >= 1 AND t <= 2 - r % 2),
          |bts AS (SELECT b.*, o.ts_us AS bts FROM bkt b
          |        JOIN o ON b.user_id = o.user_id AND b.np = o.rn),
          |inc AS (SELECT * FROM bts WHERE bts >= mx - 7 * 86400000000),
          |est AS (SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_ones,
          |  COUNT(*)::BIGINT AS n_buckets_in, CAST(SUM(p2) AS BIGINT) AS sum_sz,
          |  CAST(arg_max(p2, np) AS BIGINT) AS oldest_sz
          | FROM inc GROUP BY user_id),
          |ex AS (SELECT user_id, COUNT(*)::BIGINT AS exact_in_window
          |       FROM o WHERE ts_us >= mx - 7 * 86400000000 GROUP BY user_id)
          |SELECT est.user_id, n_ones, n_buckets_in,
          | CAST(sum_sz - oldest_sz // 2 AS BIGINT) AS dgim_est, exact_in_window,
          | CAST(abs(sum_sz - oldest_sz // 2 - exact_in_window) AS BIGINT) AS abs_err,
          | oldest_sz,
          | abs(sum_sz - oldest_sz // 2 - exact_in_window) * 2 <= oldest_sz AS bound_ok
          |FROM est JOIN ex USING (user_id) ORDER BY user_id""".stripMargin,
      "q81_bitwise_agg" ->
        """SELECT l_returnflag,
          | CAST(BIT_AND(CAST(l_suppkey AS BIGINT)) AS BIGINT) AS mask_and,
          | CAST(BIT_OR(CAST(l_suppkey AS BIGINT)) AS BIGINT) AS mask_or,
          | CAST(BIT_XOR(CAST(l_suppkey AS BIGINT)) AS BIGINT) AS parity_xor,
          | COUNT(CASE WHEN l_quantity > 25 THEN 1 END)::BIGINT AS n_bulk
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "quality_rater_accuracy" ->
        // the krippendorff 3-rater synthesis scored against the gold
        // lang; Wilson with the literal z (sqrt-only libm)
        """WITH r AS (
          |  SELECT doc_id, rr AS rater, lang,
          |   CASE WHEN CAST(('0x' || substr(md5('kr' || rr || ':' || doc_id), 1, 8)) AS BIGINT) % 7 = 0
          |        THEN ['en','de','es','fr','zh']
          |          [CAST((CAST(('0x' || substr(md5('kr' || rr || ':' || doc_id), 1, 8)) AS BIGINT) // 35) % 5 AS INT) + 1]
          |        ELSE lang END AS lab,
          |   CAST(('0x' || substr(md5('kr' || rr || ':' || doc_id), 1, 8)) AS BIGINT) AS h
          |  FROM documents, (SELECT range AS rr FROM range(1, 4))),
          |f AS (SELECT rater, COUNT(*)::BIGINT AS n_rated,
          |  SUM(CASE WHEN lab = lang THEN 1 ELSE 0 END)::BIGINT AS n_correct
          | FROM r WHERE h % 5 <> 0 GROUP BY rater),
          |w AS (SELECT rater, n_rated, n_correct,
          |  CAST(n_rated AS DOUBLE) AS nn,
          |  CAST(n_correct AS DOUBLE) / CAST(n_rated AS DOUBLE) AS p FROM f)
          |SELECT CAST(rater AS INT) AS rater, n_rated, n_correct, p AS accuracy,
          | (p + 1.959963984540054e0 * 1.959963984540054e0 / (2.0 * nn)
          |    - 1.959963984540054e0 * sqrt(p * (1.0 - p) / nn
          |      + 1.959963984540054e0 * 1.959963984540054e0 / (4.0 * nn * nn)))
          |   / (1.0 + 1.959963984540054e0 * 1.959963984540054e0 / nn) AS wilson_low,
          | (p + 1.959963984540054e0 * 1.959963984540054e0 / (2.0 * nn)
          |    - 1.959963984540054e0 * sqrt(p * (1.0 - p) / nn
          |      + 1.959963984540054e0 * 1.959963984540054e0 / (4.0 * nn * nn)))
          |   / (1.0 + 1.959963984540054e0 * 1.959963984540054e0 / nn) >= 0.8 AS meets_bar
          |FROM w ORDER BY rater""".stripMargin,
      "quality_conformal" ->
        // Mondrian split-conformal: fixed predictor (n_chars+3) div 7,
        // per-lang k-th smallest |err| threshold (k = ceil(0.9(n+1)) in
        // exact integers), coverage ppm on the md5-complement test side
        s"""WITH s AS (SELECT lang, len($toks)::BIGINT AS y,
           |  CAST((n_chars + 3) // 7 AS BIGINT) AS yhat,
           |  substr(md5(doc_id::VARCHAR), 1, 1) < '8' AS is_cal FROM documents),
           |e AS (SELECT lang, is_cal, abs(y - yhat) AS err FROM s),
           |n AS (SELECT lang, COUNT(*)::BIGINT AS n_cal,
           |  CAST((9 * (COUNT(*) + 1) + 9) // 10 AS BIGINT) AS k
           | FROM e WHERE is_cal GROUP BY lang),
           |g AS (SELECT lang, err, COUNT(*) AS cnt FROM e WHERE is_cal GROUP BY lang, err),
           |c AS (SELECT lang, err, SUM(cnt) OVER (PARTITION BY lang ORDER BY err) AS cum FROM g),
           |q AS (SELECT c.lang, CAST(MIN(c.err) AS BIGINT) AS q
           | FROM c JOIN n USING (lang) WHERE c.cum >= n.k GROUP BY c.lang),
           |t AS (SELECT e.lang, COUNT(*)::BIGINT AS n_test,
           |  SUM(CASE WHEN q.q IS NULL OR e.err <= q.q THEN 1 ELSE 0 END)::BIGINT AS covered
           | FROM e JOIN n USING (lang) LEFT JOIN q ON q.lang = e.lang
           | WHERE NOT e.is_cal GROUP BY e.lang)
           |SELECT n.lang, n.n_cal, n.k, q.q,
           | COALESCE(t.n_test, 0)::BIGINT AS n_test,
           | COALESCE(t.covered, 0)::BIGINT AS covered,
           | CASE WHEN COALESCE(t.n_test, 0) > 0
           |      THEN CAST((t.covered * 1000000) // t.n_test AS BIGINT) END AS covered_ppm
           |FROM n LEFT JOIN q ON q.lang = n.lang LEFT JOIN t ON t.lang = n.lang
           |ORDER BY n.lang""".stripMargin,
      "graph_louvain_step" ->
        // full replay: weighted co-order pairs, degrees, the integer
        // gain numerator 2m·w − k_i·k_j, argmax with the same tie-break
        """WITH o AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |e AS MATERIALIZED (
          |  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*)::BIGINT AS w
          |  FROM o a JOIN o b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2),
          |m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM e),
          |dir AS (SELECT a AS i, b AS j, w FROM e
          |        UNION ALL SELECT b AS i, a AS j, w FROM e),
          |d AS (SELECT i, CAST(SUM(w) AS BIGINT) AS k FROM dir GROUP BY i),
          |c AS (SELECT dir.i, dir.j, di.k,
          |        2 * m.m * dir.w - di.k * dj.k AS gain_num
          |      FROM dir JOIN d di ON di.i = dir.i
          |      JOIN d dj ON dj.i = dir.j CROSS JOIN m),
          |r AS (SELECT *, ROW_NUMBER() OVER
          |        (PARTITION BY i ORDER BY gain_num DESC, j) AS rn FROM c)
          |SELECT i AS node, k,
          | CASE WHEN gain_num > 0 THEN j ELSE i END AS community,
          | CAST(gain_num AS BIGINT) AS best_gain_num, gain_num > 0 AS moved
          |FROM r WHERE rn = 1 ORDER BY node""".stripMargin,
      "q84_explode_outer" ->
        // outer-generator emulation: empty arrays become [NULL] before
        // unnest — exactly explode_outer's one-null-row contract
        s"""WITH t AS (SELECT doc_id,
           |  list_filter($toks, x -> len(x) > 7) AS arr FROM documents)
           |SELECT doc_id, CAST(len(arr) AS INT) AS n_arr,
           | unnest(CASE WHEN len(arr) = 0 THEN [NULL]::VARCHAR[] ELSE arr END) AS tok
           |FROM t ORDER BY doc_id, tok""".stripMargin,
      "graph_louvain_coarsen" ->
        // replay the sweep (same integer argmax), then the contraction
        // and the integer modularity numerator Q·4m² = Σ(4m·in_c − tot²)
        """WITH o AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |e AS MATERIALIZED (
          |  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*)::BIGINT AS w
          |  FROM o a JOIN o b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2),
          |m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM e),
          |dir AS (SELECT a AS i, b AS j, w FROM e
          |        UNION ALL SELECT b AS i, a AS j, w FROM e),
          |d AS (SELECT i, CAST(SUM(w) AS BIGINT) AS k FROM dir GROUP BY i),
          |c AS (SELECT dir.i, dir.j, di.k,
          |        2 * m.m * dir.w - di.k * dj.k AS gain_num
          |      FROM dir JOIN d di ON di.i = dir.i
          |      JOIN d dj ON dj.i = dir.j CROSS JOIN m),
          |r AS (SELECT *, ROW_NUMBER() OVER
          |        (PARTITION BY i ORDER BY gain_num DESC, j) AS rn FROM c),
          |asg AS MATERIALIZED (SELECT i AS node, k,
          |        CASE WHEN gain_num > 0 THEN j ELSE i END AS community
          |      FROM r WHERE rn = 1),
          |ke AS MATERIALIZED (SELECT e.w, ca.community AS ca, cb.community AS cb
          |      FROM e JOIN asg ca ON ca.node = e.a JOIN asg cb ON cb.node = e.b),
          |coarse AS (SELECT least(ca, cb) AS cx, greatest(ca, cb) AS cy,
          |        CAST(SUM(w) AS BIGINT) AS w FROM ke GROUP BY 1, 2),
          |tot AS (SELECT community, CAST(SUM(k) AS BIGINT) AS tot FROM asg GROUP BY 1),
          |inc AS (SELECT ca AS community, CAST(SUM(w) AS BIGINT) AS in_c
          |        FROM ke WHERE ca = cb GROUP BY 1),
          |q AS (SELECT CAST(SUM(4 * m.m * COALESCE(in_c, 0) - tot * tot) AS BIGINT) AS q_num
          |      FROM tot LEFT JOIN inc USING (community) CROSS JOIN m)
          |SELECT (SELECT COUNT(*) FROM asg)::BIGINT AS n_nodes,
          | (SELECT COUNT(DISTINCT community) FROM asg)::BIGINT AS n_communities,
          | (SELECT COUNT(*) FROM e)::BIGINT AS n_edges,
          | (SELECT COUNT(*) FROM coarse)::BIGINT AS n_coarse_edges,
          | (SELECT COALESCE(CAST(SUM(w) AS BIGINT), 0) FROM coarse WHERE cx = cy) AS internal_w,
          | m.m, q.q_num, CAST(4 * m.m * m.m AS BIGINT) AS q_den,
          | CAST(q.q_num AS DOUBLE) / CAST(4 * m.m * m.m AS DOUBLE) AS q
          |FROM m CROSS JOIN q""".stripMargin,
      "events_sax" ->
        // SAX replay: same decimal daily cents, same moment formulas,
        // same literal quartile breakpoints in e-notation
        """WITH daily AS MATERIALIZED (
          |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DECIMAL(38,0)) AS cents
          |  FROM events GROUP BY 1, 2),
          |mom AS (SELECT event_type, COUNT(*) AS n,
          |  CAST(CAST(CAST(SUM(cents) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sx,
          |  CAST(CAST(CAST(SUM(cents * cents) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sxx
          | FROM daily GROUP BY 1),
          |m2 AS (SELECT event_type, sx / CAST(n AS DOUBLE) AS mean,
          |  sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS sd
          | FROM mom),
          |paa AS (SELECT event_type, day // 7 AS frame, COUNT(*)::BIGINT AS n_days,
          |  CAST(CAST(CAST(SUM(cents) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS fsum
          | FROM daily GROUP BY 1, 2),
          |p2 AS (SELECT event_type, frame, n_days,
          |  fsum / CAST(n_days AS DOUBLE) AS paa FROM paa),
          |symt AS (SELECT p2.event_type, frame, n_days, paa,
          |  CASE WHEN paa - mean < -6.744897501960817e-1 * sd THEN 'a'
          |       WHEN paa - mean < 0e0 THEN 'b'
          |       WHEN paa - mean < 6.744897501960817e-1 * sd THEN 'c'
          |       ELSE 'd' END AS sym
          | FROM p2 JOIN m2 USING (event_type)),
          |w AS (SELECT event_type, string_agg(sym, '' ORDER BY frame) AS sax_word
          |      FROM symt GROUP BY 1)
          |SELECT s.event_type, s.frame, s.n_days, s.paa, s.sym, w.sax_word
          |FROM symt s JOIN w USING (event_type)
          |ORDER BY s.event_type, s.frame""".stripMargin,
      "q83_sql_scripting" ->
        // the WHILE loop's monotone fixed point, declaratively: the
        // minimal power-of-two t with coverage ≥ 90% (n_below monotone
        // in t, so min-over-domain ≡ the doubling loop's exit value)
        """WITH o AS MATERIALIZED (
          |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          |  FROM orders),
          |tot AS (SELECT COUNT(*)::BIGINT AS n_total FROM o),
          |p AS (SELECT CAST(power(2, i) AS BIGINT) AS t
          |      FROM (SELECT unnest(range(10, 40)) AS i)),
          |c AS (SELECT p.t, SUM(CASE WHEN o.cents <= p.t THEN 1 ELSE 0 END)::BIGINT AS n_below
          |      FROM p CROSS JOIN o GROUP BY p.t),
          |sel AS (SELECT c.t, c.n_below FROM c, tot
          |        WHERE c.n_below * 10 >= tot.n_total * 9 ORDER BY c.t LIMIT 1)
          |SELECT sel.t AS t_cents, sel.n_below, tot.n_total FROM sel, tot""".stripMargin,
      "q82_named_window" ->
        // identical named-WINDOW clause text; (o_orderdate, o_orderkey)
        // unique per row so the default RANGE frame has no peers
        """SELECT o_custkey, o_orderkey,
          | CAST(rank() OVER w AS BIGINT) AS rk,
          | lag(o_orderkey) OVER w AS prev_order,
          | CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          |      OVER w AS BIGINT) AS run_cents
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_custkey, rk""".stripMargin,
      "events_peaks" ->
        """WITH daily AS (SELECT event_type,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS cents
          | FROM events GROUP BY 1, 2),
          |nb AS (SELECT *,
          |  MAX(cents) OVER (PARTITION BY event_type ORDER BY day
          |    RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING) AS max_l,
          |  MAX(cents) OVER (PARTITION BY event_type ORDER BY day
          |    RANGE BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS max_r FROM daily)
          |SELECT event_type, day, cents,
          | CAST(cents - GREATEST(COALESCE(max_l, 0), COALESCE(max_r, 0)) AS BIGINT)
          |   AS prominence_cents
          |FROM nb
          |WHERE (max_l IS NULL OR cents > max_l) AND (max_r IS NULL OR cents > max_r)
          |ORDER BY event_type, day""".stripMargin,
      "vec_purity" -> {
        def dotp(a: String, b: String) =
          s"list_reduce(list_transform(list_zip($a, $b), p -> p[1]*p[2]), (x,y) -> x+y)"
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec, label FROM embeddings),
           |sd AS MATERIALIZED (SELECT
           |  row_number() OVER (ORDER BY
           |    CAST(('0x' || substr(md5('seed:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
           |    vec_id) - 1 AS c,
           |  vec AS sv, sqrt(${dotp("vec", "vec")}) AS sn
           | FROM v ORDER BY
           |  CAST(('0x' || substr(md5('seed:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
           |  vec_id LIMIT 5),
           |sc AS (SELECT v.vec_id, v.label, sd.c,
           |  ROUND(${dotp("v.vec", "sd.sv")} / (sqrt(${dotp("v.vec", "v.vec")}) * sd.sn), 6) AS s
           | FROM v CROSS JOIN sd),
           |asg AS (SELECT vec_id, label, c AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rk FROM sc)
           |  WHERE rk = 1),
           |cl AS (SELECT cell, label, COUNT(*)::BIGINT AS n FROM asg GROUP BY 1, 2),
           |rked AS (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rk
           |         FROM cl)
           |SELECT CAST(cell AS INT) AS cell, SUM(n)::BIGINT AS n_members,
           | MAX(CASE WHEN rk = 1 THEN label END) AS majority_label,
           | MAX(CASE WHEN rk = 1 THEN n END)::BIGINT AS n_majority,
           | MAX(CASE WHEN rk = 1 THEN n END)::BIGINT * 1000000 // SUM(n)::BIGINT AS purity_ppm
           |FROM rked GROUP BY cell ORDER BY cell""".stripMargin
      },
      "multimodal_video_shots" ->
        // the scene-structured stub replay: payload = UTF-8 byte length
        // of text (DuckDB octet_length on the BLOB-equivalent encode);
        // 8 per-frame md5 bins as scene seed + mod-16 jitter, L1 via
        // eight lag columns over the frame order
        {
          val bins = (0 until 8).map { b =>
            s"""(CAST(('0x' || substr(md5(bl || ':s' || (frame_idx // scene_len) || ':' || $b), 1, 2)) AS BIGINT)
               | + CAST(('0x' || substr(md5(bl || ':f' || frame_idx || ':' || $b), 1, 2)) AS BIGINT) % 16) AS h$b""".stripMargin
          }.mkString(",\n")
          val l1 = (0 until 8).map(b =>
            s"abs(h$b - lag(h$b) OVER (PARTITION BY id ORDER BY frame_idx))").mkString(" + ")
          s"""WITH base AS (SELECT doc_id AS id, octet_length(encode(text)) AS bl,
             |  CAST(octet_length(encode(text)) % 60 + 20 AS INT) AS n_frames,
             |  CAST(octet_length(encode(text)) % 7 + 5 AS INT) AS scene_len
             | FROM documents),
             |fr AS (SELECT id, bl, n_frames, scene_len,
             |  unnest(range(0, n_frames)) AS frame_idx FROM base),
             |hs AS MATERIALIZED (SELECT id, n_frames, frame_idx,
             |$bins
             | FROM fr),
             |sc AS (SELECT id, n_frames, frame_idx, $l1 AS l1 FROM hs)
             |SELECT id AS doc_id, CAST(MAX(n_frames) AS BIGINT) AS n_frames,
             | CAST(SUM(CASE WHEN l1 > 256 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_shots,
             | CAST(MAX(COALESCE(l1, 0)) AS BIGINT) AS max_l1,
             | CAST(MAX(n_frames) AS BIGINT) * 1000
             |   // CAST(SUM(CASE WHEN l1 > 256 THEN 1 ELSE 0 END) + 1 AS BIGINT)
             |   AS mean_shot_len_milli
             |FROM sc GROUP BY id ORDER BY doc_id""".stripMargin
        },
      "events_time_to_convert" ->
        """WITH pu AS (SELECT user_id,
          |  MIN(CASE WHEN event_type = 'view'
          |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fv
          | FROM events GROUP BY user_id),
          |fb AS (SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS fp, MIN(pu.fv) AS fv2
          | FROM events e JOIN pu USING (user_id)
          | WHERE e.event_type = 'purchase' AND pu.fv IS NOT NULL
          |   AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= pu.fv
          | GROUP BY e.user_id),
          |g AS (SELECT user_id % 2 AS cohort, fp - fv2 AS gap_us FROM fb),
          |r AS (SELECT cohort, gap_us,
          |  COUNT(*) OVER (PARTITION BY cohort ORDER BY gap_us
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle,
          |  COUNT(*) OVER (PARTITION BY cohort) AS n FROM g)
          |SELECT cohort, MAX(n)::BIGINT AS n_converted,
          | MIN(CASE WHEN cle * 2 >= n THEN gap_us END) AS p50_gap_us,
          | MIN(CASE WHEN cle * 10 >= n * 9 THEN gap_us END) AS p90_gap_us,
          | CAST(CAST(CAST(SUM(CAST(gap_us AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
          |   / CAST(COUNT(*) AS DOUBLE) AS mean_gap_us
          |FROM r GROUP BY cohort ORDER BY cohort""".stripMargin,
      "text_kn_ppl" ->
        // the text_kn_bigram train replay WITHOUT the top-k cut, scored
        // back onto each doc's pair counts; ln sites rounded 9, fold in
        // exact DECIMAL (the text_entropy convention); p_kn floored at
        // 1e-6 like the engine side (a round-to-0 probability would be
        // ln-NULL in Spark and an ln error here)
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |dbg AS MATERIALIZED (SELECT doc_id, u.a AS w1, u.b AS w2, COUNT(*)::BIGINT AS m FROM
           |  (SELECT doc_id,
           |     unnest(list_transform(range(1, len(tk)), i -> {'a': tk[i], 'b': tk[i+1]})) AS u
           |   FROM t WHERE len(tk) >= 2)
           | GROUP BY 1, 2, 3),
           |bg AS MATERIALIZED (SELECT w1, w2, SUM(m)::BIGINT AS c FROM dbg GROUP BY 1, 2),
           |m1 AS (SELECT w1, SUM(c)::BIGINT AS c_w1, COUNT(*)::BIGINT AS n1p_w1 FROM bg GROUP BY w1),
           |m2 AS (SELECT w2, COUNT(*)::BIGINT AS n1p_w2 FROM bg GROUP BY w2),
           |nt AS (SELECT COUNT(*)::BIGINT AS n_types FROM bg),
           |mod AS MATERIALIZED (SELECT bg.w1, bg.w2,
           |  GREATEST(ROUND((c - 7.5e-1) / c_w1 + 7.5e-1 * n1p_w1 / c_w1
           |    * (CAST(n1p_w2 AS DOUBLE) / n_types), 6), 1e-6) AS p_kn
           |  FROM bg JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN nt)
           |SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
           | ROUND(-(CAST(CAST(SUM(CAST(m AS DECIMAL(19,0))
           |     * CAST(ROUND(ln(p_kn), 9) AS DECIMAL(18,9))) AS DECIMAL(38,9)) AS VARCHAR)::DOUBLE)
           |   / CAST(SUM(m) AS DOUBLE), 9) AS cross_entropy_nats
           |FROM dbg JOIN mod USING (w1, w2)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "data_acceptance_sampling" ->
        """WITH d AS (SELECT doc_id, source, CAST(n_chars < 150 AS INT) AS bad,
          |  CAST(('0x' || substr(md5('acc1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
          |  CAST(('0x' || substr(md5('acc2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
          | FROM documents),
          |st AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h1, doc_id) AS r1 FROM d),
          |s2 AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h2, doc_id) AS r2
          |       FROM st WHERE r1 > 20),
          |a1 AS (SELECT source, COUNT(*)::BIGINT AS n1, SUM(bad)::BIGINT AS k1
          |       FROM st WHERE r1 <= 20 GROUP BY source),
          |a2 AS (SELECT source, COUNT(*)::BIGINT AS n2, SUM(bad)::BIGINT AS k2
          |       FROM s2 WHERE r2 <= 40 GROUP BY source)
          |SELECT a1.source, n1, k1, COALESCE(n2, 0)::BIGINT AS n2, COALESCE(k2, 0)::BIGINT AS k2,
          | CAST(CASE WHEN k1 <= 1 OR k1 >= 4 THEN 1 ELSE 2 END AS BIGINT) AS decided_at_stage,
          | CASE WHEN k1 <= 1 THEN true WHEN k1 >= 4 THEN false
          |      ELSE k1 + COALESCE(k2, 0) <= 4 END AS accepted
          |FROM a1 LEFT JOIN a2 USING (source) ORDER BY source""".stripMargin,
      "events_markov_attribution" -> {
        // the 16-step integer absorption UNROLLED as p1..p16 CTEs
        // (aggregates are illegal in a recursive term, and unrolling
        // keeps every step a plain GROUP BY — bit-identical to the
        // engine's 16 chained joins)
        val steps = (1 to 16).map { i =>
          s"""p$i AS MATERIALIZED (SELECT p.scenario, tr.t AS state,
             |  CAST(SUM((p.ppm * tr.n) // tr.n_out) AS BIGINT) AS ppm
             |  FROM p${i - 1} p JOIN tr ON p.scenario = tr.scenario AND p.state = tr.f
             |  GROUP BY 1, 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           |  event_id, event_type FROM events),
           |r AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY user_id
           |  ORDER BY ts_us, event_id) AS rk FROM ev),
           |pk AS (SELECT user_id, MIN(rk) AS prk FROM r
           |       WHERE event_type = 'purchase' GROUP BY user_id),
           |tc AS (SELECT r.* FROM r LEFT JOIN pk USING (user_id)
           |       WHERE pk.prk IS NULL OR r.rk <= pk.prk),
           |sq AS (SELECT user_id, event_type,
           |  COALESCE(lag(event_type) OVER (PARTITION BY user_id
           |    ORDER BY ts_us, event_id), 'start') AS f FROM tc),
           |tn AS MATERIALIZED (SELECT f, event_type AS t, COUNT(*)::BIGINT AS n FROM sq
           |       WHERE f <> 'purchase' GROUP BY 1, 2),
           |tr0 AS (SELECT * FROM tn
           |        UNION ALL SELECT 'purchase', 'purchase', CAST(1 AS BIGINT)),
           |od AS (SELECT f, SUM(n)::BIGINT AS n_out FROM tr0 GROUP BY f),
           |ch AS (SELECT DISTINCT c FROM
           |  (SELECT f AS c FROM tn UNION ALL SELECT t FROM tn)
           |  WHERE c NOT IN ('start', 'purchase')),
           |sc AS (SELECT c AS scenario FROM ch UNION ALL SELECT 'full'),
           |tr AS MATERIALIZED (SELECT sc.scenario, tr0.f, tr0.t, tr0.n, od.n_out
           |       FROM tr0 CROSS JOIN sc JOIN od ON tr0.f = od.f
           |       WHERE sc.scenario = 'full'
           |          OR (tr0.f <> sc.scenario AND tr0.t <> sc.scenario)),
           |p0 AS (SELECT scenario, 'start' AS state, CAST(1000000 AS BIGINT) AS ppm FROM sc),
           |$steps,
           |conv AS MATERIALIZED (SELECT sc.scenario, COALESCE(p.ppm, 0) AS conv_ppm FROM sc
           |        LEFT JOIN (SELECT scenario, ppm FROM p16 WHERE state = 'purchase') p
           |        ON sc.scenario = p.scenario),
           |fl AS (SELECT conv_ppm AS conv_full FROM conv WHERE scenario = 'full'),
           |re AS MATERIALIZED (SELECT scenario AS channel, conv_full, conv_ppm AS conv_without_ppm,
           |  CAST(1000000 - (conv_ppm * 1000000 // conv_full) AS BIGINT)
           |    AS removal_effect_ppm
           |  FROM conv CROSS JOIN fl WHERE scenario <> 'full')
           |SELECT channel, conv_full, conv_without_ppm, removal_effect_ppm,
           | CAST(removal_effect_ppm AS DOUBLE)
           |   / CAST((SELECT SUM(removal_effect_ppm) FROM re) AS DOUBLE)
           |   AS attribution_share
           |FROM re ORDER BY channel""".stripMargin
      },
      "text_source_overlap" ->
        s"""WITH t AS (SELECT source, unnest($toks) AS token FROM documents),
           |vf AS (SELECT DISTINCT source, token FROM t WHERE token <> ''),
           |sz AS (SELECT source, COUNT(*)::BIGINT AS v FROM vf GROUP BY source),
           |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*)::BIGINT AS n_inter
           |  FROM vf a JOIN vf b ON a.token = b.token AND a.source < b.source
           |  GROUP BY 1, 2)
           |SELECT sa, sb, x.v AS va, y.v AS vb, n_inter,
           | (x.v + y.v - n_inter)::BIGINT AS n_union,
           | CAST(n_inter AS DOUBLE) / CAST(x.v + y.v - n_inter AS DOUBLE) AS jaccard
           |FROM inter JOIN sz x ON sa = x.source JOIN sz y ON sb = y.source
           |ORDER BY sa, sb""".stripMargin,
      "q80_posexplode" ->
        // DuckDB zips unnest + generate_subscripts (1-based — subtract)
        """SELECT p_partkey,
          | CAST(generate_subscripts(words, 1) - 1 AS INT) AS pos,
          | unnest(words) AS word,
          | CAST(length(unnest(words)) AS INT) AS word_len,
          | CAST((generate_subscripts(words, 1) - 1) * 100
          |   + length(unnest(words)) AS INT) AS ordinal_code
          |FROM (SELECT p_partkey, string_split(p_name, ' ') AS words
          |      FROM part WHERE p_partkey % 29 = 0)
          |ORDER BY p_partkey, pos""".stripMargin,
      "data_fair_share" ->
        // progressive water-filling: the saturated set is a PREFIX of
        // the demand-ascending order, so the boundary is two MAXes
        """WITH dem AS (SELECT o_orderpriority AS tenant, COUNT(*)::BIGINT AS demand
          |             FROM orders GROUP BY 1),
          |tot AS (SELECT CAST(SUM(demand) // 2 AS BIGINT) AS capacity,
          |               COUNT(*)::BIGINT AS n_tenants FROM dem),
          |rk AS (SELECT tenant, demand, capacity, n_tenants,
          |  row_number() OVER (ORDER BY demand, tenant) AS rk,
          |  CAST(SUM(demand) OVER (ORDER BY demand, tenant
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
          | FROM dem, tot),
          |st AS (SELECT *,
          |  (capacity - prefix) >= demand * (n_tenants - rk) AS saturated FROM rk),
          |bd AS (SELECT *,
          |  MAX(CASE WHEN saturated THEN rk END) OVER () AS brk,
          |  MAX(CASE WHEN saturated THEN prefix END) OVER () AS bprefix FROM st),
          |lv AS (SELECT *, capacity - COALESCE(bprefix, 0) AS lvl_num,
          |  n_tenants - COALESCE(brk, 0) AS lvl_den FROM bd)
          |SELECT tenant, demand, capacity, saturated,
          | CAST(CASE WHEN saturated THEN demand ELSE lvl_num // lvl_den END AS BIGINT)
          |   AS granted_floor,
          | CAST(lvl_num AS BIGINT) AS lvl_num, CAST(lvl_den AS BIGINT) AS lvl_den,
          | CASE WHEN saturated THEN CAST(demand AS DOUBLE)
          |      ELSE CAST(lvl_num AS DOUBLE) / CAST(lvl_den AS DOUBLE) END AS granted
          |FROM lv ORDER BY tenant""".stripMargin,
      "q79_percentile_disc" ->
        // Spark's ANSI PERCENTILE_DISC = smallest value whose cume_dist
        // ≥ p; replayed with INTEGER cume counts (cnt_le·den ≥ n·num)
        // because DuckDB's quantile_disc uses the floor((n−1)p) index
        // rule — a genuinely different element for some (n, p)
        """WITH v AS (SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem),
          |cd AS (SELECT g, x,
          |  COUNT(*) OVER (PARTITION BY g ORDER BY x
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle,
          |  COUNT(*) OVER (PARTITION BY g) AS n FROM v)
          |SELECT g AS l_returnflag, MAX(n)::BIGINT AS n_rows,
          | MIN(CASE WHEN cle * 4 >= n THEN x END) AS p25,
          | MIN(CASE WHEN cle * 2 >= n THEN x END) AS p50,
          | MIN(CASE WHEN cle * 10 >= n * 9 THEN x END) AS p90
          |FROM cd GROUP BY g ORDER BY g""".stripMargin,
      "graph_reciprocity" ->
        """WITH e AS (SELECT DISTINCT c_custkey % 50 AS src,
          |  (c_custkey * 7 + c_nationkey) % 50 AS dst FROM customer
          | WHERE c_custkey % 50 <> (c_custkey * 7 + c_nationkey) % 50),
          |r AS (SELECT COUNT(*)::BIGINT AS n_reciprocated FROM e a
          |      WHERE EXISTS (SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src))
          |SELECT (SELECT COUNT(*)::BIGINT FROM e) AS n_edges, n_reciprocated,
          | CAST(n_reciprocated AS DOUBLE) / CAST((SELECT COUNT(*) FROM e) AS DOUBLE)
          |   AS reciprocity
          |FROM r""".stripMargin,
      "text_mojibake" ->
        // the injection + scan replay: chr(195)=Ã, chr(169)=©,
        // chr(65533)=U+FFFD, chr(7)=BEL; occurrences via length delta
        // after a plain (non-regex) strip — the markers are single chars
        """WITH b AS (SELECT doc_id, source,
          |  text || (CASE WHEN doc_id % 7 = 0 THEN ' caf' || chr(195) || chr(169) ELSE '' END)
          |       || (CASE WHEN doc_id % 11 = 0 THEN chr(65533) ELSE '' END)
          |       || (CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END) AS t
          | FROM documents),
          |f AS (SELECT source,
          |  length(t) - length(replace(t, chr(65533), '')) AS n_repl,
          |  length(t) - length(replace(t, chr(7), '')) AS n_ctrl,
          |  length(t) - length(replace(t, chr(195), '')) AS n_moji,
          |  length(t) AS n_chars FROM b)
          |SELECT source, COUNT(*)::BIGINT AS n_docs,
          | SUM(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_replacement,
          | SUM(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_control,
          | SUM(CASE WHEN n_moji > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_mojibake,
          | SUM(n_repl + n_ctrl + n_moji)::BIGINT AS bad_chars,
          | SUM(n_chars)::BIGINT AS total_chars,
          | SUM(n_repl + n_ctrl + n_moji)::BIGINT * 1000000
          |   // SUM(n_chars)::BIGINT AS bad_char_ppm
          |FROM f GROUP BY source ORDER BY source""".stripMargin,
      "data_blocklist" ->
        """WITH d AS (SELECT doc_id,
          |  ['www','ads','cdn','mail','shop'][CAST(doc_id % 5 AS INT) + 1] || '.' ||
          |  ['example.com','spamnet.io','news.org'][CAST(doc_id % 3 AS INT) + 1] AS host
          | FROM documents),
          |rules AS (SELECT unnest(['spamnet.io','ads.example.com','mail.news.org']) AS rule),
          |sufs AS (SELECT doc_id, host, unnest(list_transform(
          |    range(1, len(string_split(host, '.')) + 1),
          |    i -> array_to_string(string_split(host, '.')[i:], '.'))) AS suffix FROM d),
          |j AS (SELECT s.doc_id, s.host, r.rule
          |      FROM sufs s LEFT JOIN rules r ON s.suffix = r.rule)
          |SELECT doc_id, host, COUNT(rule) > 0 AS blocked,
          | arg_max(rule, length(rule)) AS matched_rule
          |FROM j GROUP BY doc_id, host ORDER BY doc_id""".stripMargin,
      "text_heaps" ->
        s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
           |t AS (SELECT (doc_id * 16) // (mx + 1) AS bucket, unnest($toks) AS token
           |      FROM documents, mx),
           |tf AS (SELECT bucket, token FROM t WHERE token <> ''),
           |occ AS (SELECT bucket, COUNT(*)::BIGINT AS n_occ FROM tf GROUP BY 1),
           |fs AS (SELECT bucket, COUNT(*)::BIGINT AS n_new_types FROM
           |  (SELECT token, MIN(bucket) AS bucket FROM tf GROUP BY token) GROUP BY bucket)
           |SELECT bucket, n_occ, COALESCE(n_new_types, 0)::BIGINT AS n_new_types,
           | CAST(SUM(n_occ) OVER w AS BIGINT) AS tokens_cum,
           | CAST(SUM(COALESCE(n_new_types, 0)) OVER w AS BIGINT) AS vocab_cum,
           | CAST(SUM(COALESCE(n_new_types, 0)) OVER w AS DOUBLE)
           |   / CAST(SUM(n_occ) OVER w AS DOUBLE) AS type_token_ratio
           |FROM occ LEFT JOIN fs USING (bucket)
           |WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |ORDER BY bucket""".stripMargin,
      "vec_sq_dim" ->
        // per-dim trained grid; mean |err| is the same left fold in
        // index order Spark's aggregate() runs
        """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          |e AS (SELECT vec_id, unnest(vec) AS x, generate_subscripts(vec, 1) AS i FROM v),
          |st AS (SELECT i, min(x) AS lo, max(x) AS hi FROM e GROUP BY i),
          |q AS (SELECT vec_id, i, x, lo, hi,
          |  CASE WHEN hi - lo = 0 THEN 0
          |       ELSE CAST(round((x - lo) * 255 / (hi - lo)) AS INT) END AS code
          | FROM e JOIN st USING (i)),
          |r AS (SELECT vec_id, i, code,
          |  abs(x - CASE WHEN hi - lo = 0 THEN lo
          |           ELSE lo + CAST(code AS DOUBLE) * (hi - lo) / 255 END) AS err FROM q)
          |SELECT vec_id, max(err) AS max_abs_err,
          | list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(err ORDER BY i)),
          |   (p, z) -> p + z) / CAST(COUNT(*) AS DOUBLE) AS mean_abs_err,
          | MAX(CASE WHEN i = 1 THEN code END) AS code_d1
          |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin,
      "events_nelson_aalen" ->
        // the survival CTE chain with the product fold swapped for the
        // additive hazard fold (list_reduce — NEVER a window sum, whose
        // combine order differs between engines)
        """WITH u AS (SELECT user_id,
          |  min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
          |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
          |  FROM events GROUP BY 1),
          |g AS (SELECT max(last_us) AS gmax_us FROM u),
          |dur AS (SELECT user_id % 2 AS cohort,
          |  (last_us - first_us) // 86400000000 AS dur,
          |  CAST(last_us < gmax_us - 14 * 86400000000 AS INT) AS churned FROM u, g),
          |cells AS (SELECT cohort, dur, COUNT(*) AS n_here, SUM(churned) AS d_t
          |  FROM dur GROUP BY 1, 2),
          |k AS (SELECT *, SUM(n_here) OVER (PARTITION BY cohort ORDER BY dur
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_t FROM cells),
          |f AS (SELECT cohort, dur, CAST(n_t AS BIGINT) AS n_t, CAST(d_t AS BIGINT) AS d_t,
          |  CAST(d_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS inc FROM k),
          |a AS (SELECT cohort, list(inc ORDER BY dur) AS il FROM f GROUP BY cohort),
          |r AS (SELECT *, row_number() OVER (PARTITION BY cohort ORDER BY dur) AS rn FROM f)
          |SELECT r.cohort, r.dur AS t, r.n_t AS n_at_risk, r.d_t AS d_events,
          | r.inc AS hazard,
          | list_reduce(list_prepend(CAST(0.0 AS DOUBLE), a.il[1:CAST(r.rn AS INT)]),
          |   (p, q) -> p + q) AS cum_hazard
          |FROM r JOIN a ON r.cohort = a.cohort ORDER BY r.cohort, t""".stripMargin,
      "events_fdr_bh" ->
        // per-slice permutation p + integer BH step-up: the randomization
        // machinery token-mirrors StatsOps.fdrBhRandomization
        """WITH pu AS (SELECT event_type AS g, user_id,
          |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS v
          | FROM events GROUP BY 1, 2),
          |perms AS (SELECT range AS perm FROM range(0, 65)),
          |asg AS (SELECT g, v, perm,
          |  CAST(('0x' || substr(md5(
          |    (CASE WHEN perm = 0 THEN 'ab:' ELSE 'perm' || perm || ':' END)
          |    || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS bit
          | FROM pu, perms),
          |st AS (SELECT g, perm,
          |  CAST(CAST(CAST(SUM(CASE WHEN bit = 0 THEN v ELSE 0 END) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sa,
          |  CAST(COUNT(CASE WHEN bit = 0 THEN 1 END) AS DOUBLE) AS na,
          |  CAST(CAST(CAST(SUM(CASE WHEN bit = 1 THEN v ELSE 0 END) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sb,
          |  CAST(COUNT(CASE WHEN bit = 1 THEN 1 END) AS DOUBLE) AS nb
          | FROM asg GROUP BY 1, 2),
          |sstat AS (SELECT g, perm,
          |  CASE WHEN na > 0 AND nb > 0 THEN ABS(sa / na - sb / nb) END AS stat FROM st),
          |obs AS (SELECT g, stat AS obs_diff FROM sstat WHERE perm = 0),
          |p AS MATERIALIZED (SELECT s.g, obs_diff,
          |  COUNT(CASE WHEN s.stat >= obs_diff THEN 1 END)::BIGINT AS n_ge
          | FROM sstat s JOIN obs USING (g) WHERE perm > 0 GROUP BY 1, 2),
          |rk AS (SELECT g, obs_diff, n_ge, n_ge + 1 AS p_num, CAST(65 AS BIGINT) AS p_den,
          |  COUNT(*) OVER () AS m,
          |  row_number() OVER (ORDER BY n_ge + 1, g) AS bh_rank
          | FROM p WHERE obs_diff IS NOT NULL),
          |cut AS (SELECT *, MAX(CASE WHEN p_num * m * 10 <= bh_rank * p_den * 1
          |    THEN bh_rank ELSE 0 END) OVER () AS c FROM rk)
          |SELECT g AS event_type, obs_diff, n_ge, p_num, p_den,
          | CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE) AS p_value,
          | CAST(bh_rank AS BIGINT) AS bh_rank, bh_rank <= c AS rejected
          |FROM cut
          |UNION ALL
          |SELECT g, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          | CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
          | CAST(NULL AS BOOLEAN)
          |FROM p WHERE obs_diff IS NULL
          |ORDER BY event_type""".stripMargin,
      "events_theil_sen" ->
        """WITH daily AS (SELECT event_type,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS cents
          | FROM events GROUP BY 1, 2),
          |pr AS (SELECT a.event_type,
          |  CAST(b.cents - a.cents AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope,
          |  a.day AS da, b.day AS db
          | FROM daily a JOIN daily b
          |   ON a.event_type = b.event_type AND a.day < b.day),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
          |    ORDER BY slope, da, db) AS rn,
          |  COUNT(*) OVER (PARTITION BY event_type) AS np FROM pr)
          |SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
          | AVG(CASE WHEN rn = (np + 1) // 2 OR rn = (np + 2) // 2 THEN slope END)
          |   AS ts_slope_cents_per_day
          |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin,
      "graph_assortativity" ->
        """WITH e0 AS (SELECT c_custkey % 200 AS a, CAST(c_nationkey AS BIGINT) + 200 AS b
          |            FROM customer),
          |e AS (SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM e0 WHERE a <> b),
          |deg AS (SELECT v, COUNT(*)::BIGINT AS deg FROM
          |  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
          |bo AS (SELECT da.deg AS dda, db.deg AS ddb FROM e
          |  JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
          |sm AS (SELECT dda AS x, ddb AS y FROM bo UNION ALL SELECT ddb, dda FROM bo),
          |agg AS (SELECT COUNT(*)::BIGINT AS n_samples,
          |  CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
          |  CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
          |  CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy FROM sm)
          |SELECT n_samples // 2 AS n_edges, CAST(sx AS BIGINT) AS sum_deg,
          | CAST(sxy AS BIGINT) AS sum_xy,
          | CAST(CAST(n_samples * sxy - sx * sx AS DECIMAL(38,0)) AS DOUBLE)
          |   / CAST(CAST(n_samples * sxx - sx * sx AS DECIMAL(38,0)) AS DOUBLE)
          |   AS assortativity
          |FROM agg""".stripMargin,
      "quality_fleiss" ->
        // the krippendorff 3-rater synthesis WITHOUT the coverage filter
        // (Fleiss assumes complete fixed-n design); integer numerators
        """WITH r AS (
          |  SELECT doc_id, rr AS rater,
          |   CASE WHEN CAST(('0x' || substr(md5('kr' || rr || ':' || doc_id), 1, 8)) AS BIGINT) % 7 = 0
          |        THEN ['en','de','es','fr','zh']
          |          [CAST((CAST(('0x' || substr(md5('kr' || rr || ':' || doc_id), 1, 8)) AS BIGINT) // 35) % 5 AS INT) + 1]
          |        ELSE lang END AS lab
          |  FROM documents, (SELECT range AS rr FROM range(1, 4))),
          |nij AS (SELECT item, lab, COUNT(*)::BIGINT AS nij FROM
          |  (SELECT DISTINCT doc_id AS item, rater, lab FROM r) GROUP BY 1, 2),
          |pi AS (SELECT item, CAST(SUM(nij) AS BIGINT) AS n,
          |  CAST(SUM(nij * nij) AS BIGINT) AS sq FROM nij GROUP BY item),
          |lt AS (SELECT CAST(SUM(t * t) AS DECIMAL(38,0)) AS sum_tot_sq FROM
          |  (SELECT lab, CAST(SUM(nij) AS DECIMAL(38,0)) AS t FROM nij GROUP BY lab)),
          |it AS (SELECT COUNT(*)::BIGINT AS n_items, MAX(n)::BIGINT AS n_raters,
          |  CAST(SUM(sq) AS DECIMAL(38,0)) AS sum_sq FROM pi),
          |base AS (SELECT n_items, n_raters,
          |  CAST(sum_sq AS BIGINT) AS sum_nij_sq,
          |  CAST(sum_tot_sq AS BIGINT) AS sum_cat_tot_sq,
          |  CAST(CAST(sum_sq AS BIGINT) - n_items * n_raters AS DOUBLE)
          |    / CAST(n_items * n_raters * (n_raters - 1) AS DOUBLE) AS po,
          |  CAST(CAST(sum_tot_sq AS BIGINT) AS DOUBLE)
          |    / (CAST(n_items * n_raters AS DOUBLE) * CAST(n_items * n_raters AS DOUBLE)) AS pe
          | FROM it, lt)
          |SELECT n_items, n_raters, sum_nij_sq, sum_cat_tot_sq, po, pe,
          | (po - pe) / (1.0 - pe) AS kappa FROM base""".stripMargin,
      "q76_grouping_id" ->
        // DuckDB spells GROUPING_ID as multi-arg GROUPING — same bitmask
        """SELECT l_returnflag, l_linestatus,
          | CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
          | CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
          | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          | COUNT(*)::BIGINT AS n_rows,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem
          |GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
      "q77_timestamp_arith" ->
        """SELECT o_orderkey,
          | epoch_us(CAST(o_orderdate AS TIMESTAMP)
          |          + to_hours(CAST(o_orderkey % 48 AS INT))) AS due_us,
          | CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
          |   CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS days_from_anchor,
          | CAST(date_diff('hour', CAST(o_orderdate AS TIMESTAMP),
          |   CAST(o_orderdate AS TIMESTAMP)
          |   + to_hours(CAST(o_orderkey % 48 AS INT))) AS BIGINT) AS lead_hours
          |FROM orders WHERE o_orderkey % 41 = 0
          |ORDER BY o_orderkey""".stripMargin,
      "q78_regexp_funcs" ->
        // regexp_replace needs the 'g' flag (DuckDB default = first
        // match; Spark = all); count = splits − 1 (no regexp_count)
        """SELECT p_partkey,
          | regexp_extract(p_name, '([aeiou]+)', 1) AS first_vowels,
          | regexp_replace(p_name, '[aeiou]+', '_', 'g') AS squashed,
          | CAST(len(regexp_split_to_array(p_name, '[aeiou]+')) - 1 AS BIGINT) AS vowel_runs,
          | regexp_matches(p_name, 'o[a-z]*e') AS has_oe_bridge
          |FROM part WHERE p_partkey % 17 = 0
          |ORDER BY p_partkey""".stripMargin,
      "events_holt_winters" ->
        // the 9-double [l, b, s0..s6] state folded in day order via
        // list_reduce — positions 1-based here vs Spark's 0-based
        // brackets, values identical token for token
        """WITH daily AS (SELECT event_type,
          |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
          | FROM events GROUP BY 1, 2),
          |ser AS (SELECT event_type, COUNT(*) AS n_days,
          |  list([CAST(day AS DOUBLE), CAST(x AS DOUBLE)] ORDER BY day) AS arr
          | FROM daily GROUP BY 1),
          |st AS (SELECT event_type, n_days,
          |  list_reduce(
          |    list_prepend(
          |      [arr[1][2], 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[],
          |      arr[2:]),
          |    (a, e) -> list_transform(a, (v, i) -> CASE
          |      WHEN i = 1 THEN
          |        (e[2] - a[CAST(e[1] AS BIGINT) % 7 + 3] + a[1] + a[2]) / 2.0
          |      WHEN i = 2 THEN
          |        ((e[2] - a[CAST(e[1] AS BIGINT) % 7 + 3] + a[1] + a[2]) / 2.0
          |          - a[1]) / 2.0 + a[2] / 2.0
          |      WHEN i = CAST(e[1] AS BIGINT) % 7 + 3 THEN
          |        (e[2]
          |          - (e[2] - a[CAST(e[1] AS BIGINT) % 7 + 3] + a[1] + a[2]) / 2.0)
          |          / 2.0 + a[CAST(e[1] AS BIGINT) % 7 + 3] / 2.0
          |      ELSE v END)) AS st,
          |  CAST(arr[len(arr)][1] AS BIGINT) % 7 AS last_dow
          | FROM ser)
          |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
          | st[1] AS level, st[2] AS trend, st[CAST(last_dow + 3 AS INT)] AS s_last,
          | st[1] + 7.0 * st[2] + st[CAST(last_dow + 3 AS INT)] AS forecast_7d
          |FROM st ORDER BY event_type""".stripMargin,
      "text_good_turing" ->
        s"""WITH tf AS (SELECT tok, COUNT(*) AS r FROM (
           |  SELECT unnest($toks) AS tok FROM documents) WHERE tok <> '' GROUP BY tok),
           |cc AS (SELECT r, COUNT(*) AS n_r FROM tf GROUP BY r),
           |tot AS (SELECT CAST(CAST(SUM(CAST(r AS HUGEINT) * n_r) AS VARCHAR) AS DOUBLE) AS n_tokens,
           |  CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS DOUBLE) AS n1 FROM cc)
           |SELECT cc.r, CAST(cc.n_r AS BIGINT) AS n_r,
           | CAST(cc.r + 1 AS DOUBLE) * CAST(nx.n_r AS DOUBLE) / CAST(cc.n_r AS DOUBLE) AS r_star,
           | CAST(cc.r + 1 AS DOUBLE) * CAST(nx.n_r AS DOUBLE) / CAST(cc.n_r AS DOUBLE) / n_tokens AS p_gt,
           | n1 / n_tokens AS p0_unseen
           |FROM (SELECT * FROM cc ORDER BY r LIMIT 20) cc
           |LEFT JOIN cc nx ON nx.r = cc.r + 1 CROSS JOIN tot
           |ORDER BY cc.r""".stripMargin,
      "data_rendezvous" ->
        """WITH k AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
          |e AS (SELECT k, s, md5('rz' || CAST(s AS VARCHAR) || ':' || k) AS h
          |      FROM k CROSS JOIN (SELECT unnest(range(0, 9)) AS s)),
          |a AS (SELECT k,
          |  arg_max(s, CASE WHEN s < 8 THEN h ELSE '' END) AS shard_n,
          |  arg_max(s, h) AS shard_n1
          | FROM e GROUP BY k),
          |mv AS (SELECT COUNT(*) AS n_keys,
          |       COUNT(CASE WHEN shard_n <> shard_n1 THEN 1 END) AS n_moved FROM a),
          |bal AS (SELECT MIN(c) AS min_shard, MAX(c) AS max_shard FROM (
          |        SELECT shard_n, COUNT(*) AS c FROM a GROUP BY shard_n))
          |SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(n_moved AS BIGINT) AS n_moved,
          | CAST(n_moved AS DOUBLE) / CAST(n_keys AS DOUBLE) AS moved_frac,
          | CAST(min_shard AS BIGINT) AS min_shard, CAST(max_shard AS BIGINT) AS max_shard,
          | CAST(max_shard AS DOUBLE) / CAST(min_shard AS DOUBLE) AS balance
          |FROM mv CROSS JOIN bal""".stripMargin,
      "events_kmeans1d" -> {
        // Ckmeans.1d.dp replay: prefix sums over the occupied grid,
        // k=4 unrolled DP stages (argmin ties → smaller j, mirroring
        // the scala loop's strict-< update), then the 3-step backtrack
        def cost(pj: String, pi: String) =
          s"CAST(CAST($pi.pq - $pj.pq AS VARCHAR) AS DOUBLE)" +
            s" - CAST(CAST($pi.ps - $pj.ps AS VARCHAR) AS DOUBLE)" +
            s" * CAST(CAST($pi.ps - $pj.ps AS VARCHAR) AS DOUBLE)" +
            s" / CAST($pi.pc - $pj.pc AS DOUBLE)"
        val stages = (2 to 4).map { t =>
          s"""b$t AS (SELECT i, v AS best, j AS argj FROM (
             |  SELECT pi.i AS i, pj.i AS j,
             |    b${t - 1}.best + ${cost("pj", "pi")} AS v,
             |    ROW_NUMBER() OVER (PARTITION BY pi.i
             |      ORDER BY b${t - 1}.best + ${cost("pj", "pi")} ASC, pj.i ASC) AS rn
             |  FROM pre pi JOIN pre pj ON pj.i BETWEEN ${t - 1} AND pi.i - 1
             |  JOIN b${t - 1} ON b${t - 1}.i = pj.i
             |  WHERE pi.i >= $t) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH v AS (SELECT CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS v
           |           FROM events WHERE value IS NOT NULL),
           |mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v),
           |g AS (SELECT (v - lo) // ((hi - lo) // 64 + 1) AS b, v, lo,
           |             (hi - lo) // 64 + 1 AS width
           |      FROM v CROSS JOIN mm),
           |occ AS (SELECT b, ANY_VALUE(lo) AS lo, ANY_VALUE(width) AS width,
           |        COUNT(*) AS c, SUM(CAST(v AS HUGEINT)) AS s,
           |        SUM(CAST(v AS HUGEINT) * v) AS q
           |        FROM g GROUP BY b),
           |idx AS (SELECT b, lo, width, c, s, q,
           |        CAST(ROW_NUMBER() OVER (ORDER BY b) AS BIGINT) AS i FROM occ),
           |prn AS (SELECT i, b, lo, width,
           |  SUM(c) OVER w AS pc, SUM(s) OVER w AS ps, SUM(q) OVER w AS pq
           | FROM idx WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |pre AS (SELECT * FROM prn
           |        UNION ALL SELECT 0, NULL, NULL, NULL, 0, 0, 0),
           |b1 AS (SELECT pi.i AS i, ${cost("pj", "pi")} AS best
           |       FROM pre pi JOIN pre pj ON pj.i = 0 WHERE pi.i >= 1),
           |$stages,
           |nn AS (SELECT MAX(i) AS n FROM pre),
           |t4 AS (SELECT argj AS j3 FROM b4, nn WHERE b4.i = nn.n),
           |t3 AS (SELECT argj AS j2 FROM b3, t4 WHERE b3.i = t4.j3),
           |t2 AS (SELECT argj AS j1 FROM b2, t3 WHERE b2.i = t3.j2),
           |ends AS (
           |  SELECT 1 AS cluster_id, 0 AS j, t2.j1 AS i FROM t2
           |  UNION ALL SELECT 2, t2.j1, t3.j2 FROM t2, t3
           |  UNION ALL SELECT 3, t3.j2, t4.j3 FROM t3, t4
           |  UNION ALL SELECT 4, t4.j3, nn.n FROM t4, nn)
           |SELECT e.cluster_id,
           | pl.lo + pl.b * pl.width AS lo_value,
           | ph.lo + ph.b * ph.width + ph.width - 1 AS hi_value,
           | CAST(ph.pc - pj.pc AS BIGINT) AS n,
           | CAST(CAST(ph.ps - pj.ps AS VARCHAR) AS DOUBLE) / CAST(ph.pc - pj.pc AS DOUBLE) AS mean,
           | ${cost("pj", "ph")} AS sse
           |FROM ends e
           |JOIN pre pj ON pj.i = e.j
           |JOIN pre ph ON ph.i = e.i
           |JOIN pre pl ON pl.i = e.j + 1
           |ORDER BY e.cluster_id""".stripMargin
      },
      "events_ab_permutation" ->
        // 64 md5 reassignments of PER-USER totals; add-one Monte-Carlo
        // p — StatsOps.randomizationTest token for token
        """WITH pu AS (SELECT user_id,
          |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS cents
          | FROM events GROUP BY user_id),
          |perms AS (SELECT unnest(range(0, 65)) AS perm),
          |a AS (SELECT perm, cents,
          |  CAST(('0x' || substr(md5(
          |    (CASE WHEN perm = 0 THEN 'ab:' ELSE 'perm' || CAST(perm AS VARCHAR) || ':' END)
          |    || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS bit
          | FROM pu CROSS JOIN perms),
          |st AS (SELECT perm,
          |  CAST(CAST(SUM(CASE WHEN bit = 0 THEN cents ELSE 0 END) AS VARCHAR) AS DOUBLE) AS sa,
          |  CAST(COUNT(CASE WHEN bit = 0 THEN 1 END) AS DOUBLE) AS na,
          |  CAST(CAST(SUM(CASE WHEN bit = 1 THEN cents ELSE 0 END) AS VARCHAR) AS DOUBLE) AS sb,
          |  CAST(COUNT(CASE WHEN bit = 1 THEN 1 END) AS DOUBLE) AS nb
          | FROM a GROUP BY perm),
          |s2 AS (SELECT perm,
          |  CASE WHEN na > 0 AND nb > 0 THEN abs(sa/na - sb/nb) END AS stat, na, nb
          | FROM st),
          |o AS (SELECT stat AS obs_stat, CAST(na + nb AS BIGINT) AS n_units
          |      FROM s2 WHERE perm = 0)
          |SELECT n_units, obs_stat AS obs_diff,
          | CAST(COUNT(CASE WHEN stat >= obs_stat THEN 1 END) AS BIGINT) AS n_ge,
          | CAST(COUNT(CASE WHEN stat >= obs_stat THEN 1 END) + 1 AS DOUBLE) / 65.0 AS p_value
          |FROM s2 CROSS JOIN o WHERE perm > 0
          |GROUP BY n_units, obs_stat""".stripMargin,
      "events_ams_f2" -> {
        val zs = (0 until 32).map(e => s"SUM(1 - 2 * ((h >> $e) & 1)) AS z$e").mkString(",\n  ")
        val ms = (0 until 4).map { g =>
          val sq = (0 until 8).map(i => s"CAST(z${g * 8 + i} AS HUGEINT) * z${g * 8 + i}")
            .mkString(" + ")
          s"CAST(CAST($sq AS VARCHAR) AS DOUBLE) / 8.0 AS m$g"
        }.mkString(",\n  ")
        s"""WITH hh AS (SELECT CAST(('0x' || substr(md5('ams:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
           |            user_id FROM events),
           |z AS (SELECT COUNT(*) AS n_events,
           |  $zs
           | FROM hh),
           |m AS (SELECT n_events,
           |  $ms
           | FROM z),
           |e AS (SELECT n_events,
           |  (list_sort([m0, m1, m2, m3])[2] + list_sort([m0, m1, m2, m3])[3]) / 2.0 AS est_f2
           | FROM m),
           |x AS (SELECT CAST(CAST(SUM(CAST(f AS HUGEINT) * f) AS VARCHAR) AS DOUBLE) AS exact_f2
           |      FROM (SELECT COUNT(*) AS f FROM events GROUP BY user_id))
           |SELECT CAST(n_events AS BIGINT) AS n_events, exact_f2, est_f2,
           | abs(est_f2 - exact_f2) / exact_f2 AS rel_err
           |FROM e CROSS JOIN x""".stripMargin
      },
      "q74_execute_immediate" ->
        """SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
          | CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total
          |FROM orders WHERE o_totalprice > 150000.0
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q73_lateral_alias" ->
        // the twin spells the alias chain out; DOUBLE via the exact
        // VARCHAR hop (decimal→double convention)
        """WITH x AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS base
          |           FROM orders WHERE o_orderkey % 53 = 0)
          |SELECT o_orderkey,
          | CAST(CAST(base AS VARCHAR) AS DOUBLE) AS base,
          | CAST(CAST(base * 2 AS VARCHAR) AS DOUBLE) AS doubled,
          | CAST(CAST(base * 2 + base AS VARCHAR) AS DOUBLE) AS tripled
          |FROM x ORDER BY o_orderkey""".stripMargin
    )
    // the typed Dataset interval twin (SURVEY §2 row 94) shares the
    // Column-form query's oracle verbatim: identical output contract is
    // exactly what the twin pins
    m + ("events_intervals_typed" -> m("events_intervals")) +
      // different exact algorithm (AllPairs prefix filter vs MinHash-band
      // candidates), same output contract: the shared oracle IS the claim
      ("dedup_prefix_filter" -> m("dedup_ngram_jaccard")) +
      // incremental label maintenance must EQUAL from-scratch clustering
      // of the full corpus — sharing the oracle IS the claim
      ("dedup_clusters_incr" -> m("dedup_clusters")) +
      // gate sentinel (round-10 verdict item 8): both sides count the
      // SAME def queries map, so the literal stays mechanical
      ("_gate_meta" ->
        s"SELECT 'graft-0.1.0' AS engine, CAST(${SparkEntry.queries.size} AS BIGINT) AS n_queries")
  }
}
