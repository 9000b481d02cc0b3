package graft

import org.apache.spark.sql.functions._

import Queries.{Entry, dfq, sql, sql2, microLog2Guarded, microLog2Duck}

/** Round-15 analytics surface: rank statistics, agreement/divergence
  * measures, in-engine ML primitives, and spatial predicates — each a
  * differential entry whose oracle re-derives every value from first
  * principles in DuckDB.
  *
  * Numeric discipline (established r13/r14, see [[Queries]] scaladoc):
  * every cross-engine value is either an exact integer (BIGINT /
  * DECIMAL(38,0) aggregates), a micro-bit lattice point
  * (floor(log2·1e6+0.5) of an integer, knife-edge-guarded), or a SHORT
  * fixed-shape IEEE expression over such exact values (conversions and
  * one or two divisions — correctly rounded, bit-identical on any
  * engine; never an order-dependent float aggregate).
  */
object AnalyticsQueries {

  /** Shared naive-Bayes scoring CTEs (through the per-(doc, lang) rank
    * relation `rk`) — the single source for `q_naive_bayes` and
    * `q_classifier_agreement` in each dialect, so the two entries can
    * never train subtly different models.
    */
  private val nbCtesSpark: String =
    "WITH tok AS (SELECT doc_id, lang, w FROM documents " +
      "    LATERAL VIEW explode(split(text, ' ')) x AS w), " +
      "t AS (SELECT doc_id, lang, w FROM tok WHERE length(w) > 0), " +
      "dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c_wd FROM t GROUP BY 1, 2), " +
      "lw AS (SELECT lang AS l, w, CAST(count(*) AS BIGINT) AS c_wl FROM t GROUP BY 1, 2), " +
      "lt AS (SELECT lang AS l, CAST(count(*) AS BIGINT) AS n_l, " +
      "    CAST(count(DISTINCT doc_id) AS BIGINT) AS d_l FROM t GROUP BY 1), " +
      "v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM t), " +
      "d AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents), " +
      "sc AS (SELECT dw.doc_id, lt.l, " +
      s"    CAST(sum(dw.c_wd * (${microLog2Guarded("COALESCE(lw.c_wl, 0) + 1")} - ${microLog2Guarded("lt.n_l + v.v")})) AS BIGINT) " +
      s"      + max(${microLog2Guarded("lt.d_l")} - ${microLog2Guarded("d.d")}) AS score_u " +
      "  FROM dw CROSS JOIN lt CROSS JOIN v CROSS JOIN d " +
      "  LEFT JOIN lw ON lw.l = lt.l AND lw.w = dw.w GROUP BY 1, 2), " +
      "rk AS (SELECT doc_id, l, score_u, " +
      "    row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, l) AS r FROM sc)"

  private val nbCtesDuck: String =
    "WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents), " +
      "t AS (SELECT doc_id, lang, w FROM tok WHERE length(w) > 0), " +
      "dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c_wd FROM t GROUP BY 1, 2), " +
      "lw AS (SELECT lang AS l, w, CAST(count(*) AS BIGINT) AS c_wl FROM t GROUP BY 1, 2), " +
      "lt AS (SELECT lang AS l, CAST(count(*) AS BIGINT) AS n_l, " +
      "    CAST(count(DISTINCT doc_id) AS BIGINT) AS d_l FROM t GROUP BY 1), " +
      "v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM t), " +
      "d AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents), " +
      "sc AS (SELECT dw.doc_id, lt.l, " +
      s"    CAST(sum(dw.c_wd * (${microLog2Duck("COALESCE(lw.c_wl, 0) + 1")} - ${microLog2Duck("lt.n_l + v.v")})) AS BIGINT) " +
      s"      + max(${microLog2Duck("lt.d_l")} - ${microLog2Duck("d.d")}) AS score_u " +
      "  FROM dw CROSS JOIN lt CROSS JOIN v CROSS JOIN d " +
      "  LEFT JOIN lw ON lw.l = lt.l AND lw.w = dw.w GROUP BY 1, 2), " +
      "rk AS (SELECT doc_id, l, score_u, " +
      "    row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, l) AS r FROM sc)"

  val entries: Seq[Entry] = Seq(

    // Mann-Whitney U rank-sum test between two event populations
    // (click vs purchase values) — the nonparametric A/B readout when
    // means are not trusted. Ranks are UNTIED by construction (micro-
    // unit value, event_id tie-break — the q_spearman discipline), so
    // U_A = R_A − n_A(n_A+1)/2 is an exact BIGINT, and the effect-size
    // readout is the rank-biserial correlation r = (n_A·n_B − 2U)/
    // (n_A·n_B): exact integers, ONE IEEE division. Engine side the
    // global rank rides the distributed prefix machinery (two balanced
    // range-partitioned passes), never a partition-less window; the
    // oracle uses exactly the textbook row_number() the prefix replaces.
    dfq("q_mann_whitney",
      "WITH s AS (SELECT event_id, event_type AS g, " +
        "    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v " +
        "  FROM events WHERE event_type IN ('click','purchase')), " +
        "rk AS (SELECT g, event_id, row_number() OVER (ORDER BY v, event_id) AS r FROM s), " +
        "agg AS (SELECT " +
        "    CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "    CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "    CAST(sum(CASE WHEN g = 'click' THEN r ELSE 0 END) AS BIGINT) AS r_a FROM rk) " +
        "SELECT n_a, n_b, r_a, " +
        "  CAST(r_a - n_a * (n_a + 1) / 2 AS BIGINT) AS u_a, " +
        "  CAST(n_a * n_b - 2 * (r_a - n_a * (n_a + 1) / 2) AS DOUBLE) / " +
        "    CAST(n_a * n_b AS DOUBLE) AS r_rank_biserial " +
        "FROM agg") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("event_type").as("g"),
          floor(col("value") * 1000000.0 + 0.5).cast("long").as("v"))
      val ranked = graft.operators.Prefix.withRunningSums(
        ev, "v", Nil, idxCol = "r", tieCols = Seq("event_id"))
      val agg = ranked.agg(
        sum(when(col("g") === "click", 1L).otherwise(0L)).cast("long").as("n_a"),
        sum(when(col("g") === "purchase", 1L).otherwise(0L)).cast("long").as("n_b"),
        sum(when(col("g") === "click", col("r")).otherwise(0L)).cast("long").as("r_a"))
      val uA = col("r_a") - col("n_a") * (col("n_a") + 1L) / lit(2L)
      agg.select(col("n_a"), col("n_b"), col("r_a"),
        uA.cast("long").as("u_a"),
        ((col("n_a") * col("n_b") - lit(2L) * uA).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("r_rank_biserial"))
    },

    // Kruskal-Wallis rank test across ALL event types — the k-group
    // generalization of q_mann_whitney. Same untied global rank; per
    // group the entry emits the exact BIGINT rank sum R_i and the H
    // building block R_i²/n_i. R_i² exceeds 2^63 from ~sf0.3, so each
    // engine squares in its own exact wide type (HUGEINT / DECIMAL(38,0),
    // the q_hhi discipline) and converts to DOUBLE once before ONE
    // division. H = 12/(N(N+1))·Σ h_term − 3(N+1) is left to the
    // consumer (a cross-engine float SUM would be partial-agg-order
    // dependent; the per-group terms are bit-identical).
    dfq("q_kruskal_wallis",
      "WITH s AS (SELECT event_id, event_type AS g, " +
        "    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v FROM events), " +
        "rk AS (SELECT g, row_number() OVER (ORDER BY v, event_id) AS r FROM s), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk), " +
        "grp AS (SELECT g, CAST(count(*) AS BIGINT) AS n_i, CAST(sum(r) AS BIGINT) AS r_i " +
        "  FROM rk GROUP BY 1) " +
        "SELECT g AS grp, n_i, r_i, tot.n AS n, " +
        "  CAST(CAST(r_i AS HUGEINT) * r_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS h_term " +
        "FROM grp CROSS JOIN tot ORDER BY grp") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type").as("g"),
          floor(col("value") * 1000000.0 + 0.5).cast("long").as("v"))
      val ranked = graft.operators.Prefix.withRunningSums(
        ev, "v", Nil, idxCol = "r", tieCols = Seq("event_id"))
      val grp = ranked.groupBy(col("g").as("grp"))
        .agg(count(lit(1)).cast("long").as("n_i"), sum(col("r")).cast("long").as("r_i"))
      val tot = grp.agg(sum(col("n_i")).cast("long").as("n"))
      grp.crossJoin(tot)
        .select(col("grp"), col("n_i"), col("r_i"), col("n"),
          ((col("r_i").cast("decimal(38,0)") * col("r_i")).cast("double") /
            col("n_i").cast("double")).as("h_term"))
        .orderBy("grp")
    },

    // Cohen's kappa between two independent order-size heuristics —
    // the label-quality / annotator-agreement readout a curation
    // pipeline runs before trusting weak labels: rater 1 buckets by
    // order value, rater 2 by order width (lineitem count). With
    // integer cell counts, kappa = (N·Σn_ii − Σ r_i·c_i) /
    // (N² − Σ r_i·c_i) — every operand an exact BIGINT, ONE IEEE
    // division. Shape: one fact aggregation per rater, a 9-cell
    // contingency relation, marginal products over ≤ 3 rows.
    sql("q_cohens_kappa",
      "WITH r1 AS (SELECT o_orderkey AS k, CASE WHEN o_totalprice < 170000 THEN 'low' " +
        "    WHEN o_totalprice < 330000 THEN 'mid' ELSE 'high' END AS c1 FROM orders), " +
        "w AS (SELECT l_orderkey AS k, count(*) AS width FROM lineitem GROUP BY 1), " +
        "r2 AS (SELECT k, CASE WHEN width <= 2 THEN 'low' WHEN width <= 4 THEN 'mid' " +
        "    ELSE 'high' END AS c2 FROM w), " +
        "cell AS (SELECT c1, c2, CAST(count(*) AS BIGINT) AS n_c " +
        "  FROM r1 JOIN r2 ON r1.k = r2.k GROUP BY 1, 2), " +
        "m1 AS (SELECT c1 AS c, CAST(sum(n_c) AS BIGINT) AS rn FROM cell GROUP BY 1), " +
        "m2 AS (SELECT c2 AS c, CAST(sum(n_c) AS BIGINT) AS cn FROM cell GROUP BY 1), " +
        "tots AS (SELECT CAST(sum(n_c) AS BIGINT) AS n, " +
        "    CAST(sum(CASE WHEN c1 = c2 THEN n_c ELSE 0 END) AS BIGINT) AS agree FROM cell), " +
        "pe AS (SELECT CAST(sum(m1.rn * m2.cn) AS BIGINT) AS pe_num " +
        "  FROM m1 JOIN m2 ON m1.c = m2.c) " +
        "SELECT n, agree, pe_num, " +
        "  CAST(n * agree - pe_num AS DOUBLE) / CAST(n * n - pe_num AS DOUBLE) AS kappa " +
        "FROM tots CROSS JOIN pe"),

    // Jensen-Shannon divergence between the weekend and weekday
    // event-type distributions — the symmetric, bounded drift readout
    // (complements q_psi_drift's PSI). With P_t = a_t/A, Q_t = b_t/B,
    // the mixture M_t = (a_t·B + b_t·A)/(2AB) has an INTEGER numerator
    // m_t, so both KL terms ride the ratio-log micro-bit lattice:
    // log2(P_t/M_t) = [L(2·a_t·B) − L(m_t)]/1e6 exactly (committed
    // margin audit, COVERAGE.md r16 / tools/margin_audit.py: min
    // boundary distance 1.47e-2 µbits across sf0.001/0.01/0.1 — 1466×
    // the 1e-5 in-expression guard; operands ≤ 2AB ~ 7.7e8 at sf0.1,
    // far under 2^63). The JSD
    // convention 0·log 0 = 0 is implemented explicitly: a type with
    // zero weekend (a_t = 0) or zero weekday (b_t = 0) events gets a
    // 0.0 term via CASE, so neither engine ever evaluates log2(0).
    // JSD = (Σp_term + Σq_term)/2 left to the consumer; per-type terms
    // are one IEEE mul-sub-div chain on exact integers. Scale: one
    // fact aggregation, a |types|-row cell relation, totals broadcast.
    sql2("q_js_divergence",
      "WITH c AS (SELECT event_type AS et, " +
        "    CAST(sum(CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END) AS BIGINT) AS a_t, " +
        "    CAST(sum(CASE WHEN dayofweek(ts) IN (1, 7) THEN 0 ELSE 1 END) AS BIGINT) AS b_t " +
        "  FROM events GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(a_t) AS BIGINT) AS a, CAST(sum(b_t) AS BIGINT) AS b FROM c) " +
        "SELECT c.et, c.a_t, c.b_t, " +
        "  CAST(c.a_t * tot.b + c.b_t * tot.a AS BIGINT) AS m_t, " +
        s"  CASE WHEN c.a_t = 0 THEN CAST(0 AS DOUBLE) ELSE " +
        s"  (CAST(c.a_t AS DOUBLE) * (${microLog2Guarded("c.a_t * 2 * tot.b")} - ${microLog2Guarded("c.a_t * tot.b + c.b_t * tot.a")})) " +
        "    / (CAST(tot.a AS DOUBLE) * 1000000.0) END AS p_term, " +
        s"  CASE WHEN c.b_t = 0 THEN CAST(0 AS DOUBLE) ELSE " +
        s"  (CAST(c.b_t AS DOUBLE) * (${microLog2Guarded("c.b_t * 2 * tot.a")} - ${microLog2Guarded("c.a_t * tot.b + c.b_t * tot.a")})) " +
        "    / (CAST(tot.b AS DOUBLE) * 1000000.0) END AS q_term " +
        "FROM c CROSS JOIN tot ORDER BY c.et",
      "WITH c AS (SELECT event_type AS et, " +
        "    CAST(sum(CASE WHEN extract(dow FROM ts) IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS a_t, " +
        "    CAST(sum(CASE WHEN extract(dow FROM ts) IN (0, 6) THEN 0 ELSE 1 END) AS BIGINT) AS b_t " +
        "  FROM events GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(a_t) AS BIGINT) AS a, CAST(sum(b_t) AS BIGINT) AS b FROM c) " +
        "SELECT c.et, c.a_t, c.b_t, " +
        "  CAST(c.a_t * tot.b + c.b_t * tot.a AS BIGINT) AS m_t, " +
        s"  CASE WHEN c.a_t = 0 THEN CAST(0 AS DOUBLE) ELSE " +
        s"  (CAST(c.a_t AS DOUBLE) * (${microLog2Duck("c.a_t * 2 * tot.b")} - ${microLog2Duck("c.a_t * tot.b + c.b_t * tot.a")})) " +
        "    / (CAST(tot.a AS DOUBLE) * 1000000.0) END AS p_term, " +
        s"  CASE WHEN c.b_t = 0 THEN CAST(0 AS DOUBLE) ELSE " +
        s"  (CAST(c.b_t AS DOUBLE) * (${microLog2Duck("c.b_t * 2 * tot.a")} - ${microLog2Duck("c.a_t * tot.b + c.b_t * tot.a")})) " +
        "    / (CAST(tot.b AS DOUBLE) * 1000000.0) END AS q_term " +
        "FROM c CROSS JOIN tot ORDER BY c.et"),

    // Multinomial naive-Bayes language classifier TRAINED AND APPLIED
    // in-engine — the in-database ML primitive: Laplace-smoothed
    // per-lang word likelihoods, score_l(d) = Σ_w c_wd·[L(c_wl+1) −
    // L(N_l+V)] + L(D_l) − L(D), every term an exact micro-bit lattice
    // integer (committed margin audit, COVERAGE.md r16 /
    // tools/margin_audit.py, over every distinct lattice operand —
    // 91/91/134 at sf0.001/0.01/0.1: min boundary distance 7.2e-4,
    // 72× the guard; min winner-vs-runner-up margin 454 micro-bits at
    // sf0.01, 4239/8839 at sf0.001/sf0.1, so the argmax can never
    // flip). Accuracy 0.41-0.47 vs 0.20 chance on the
    // synthetic corpus (langs share the 31-word vocab but differ in
    // frequencies). Scale: token relation keyed on w, the (w, lang)
    // model and scalar totals broadcast; per-doc argmax is a keyed
    // window.
    sql2("q_naive_bayes",
      nbCtesSpark + ", " +
        "p AS (SELECT a.doc_id, a.l AS pred, a.score_u AS best_u, " +
        "    a.score_u - b.score_u AS margin_u " +
        "  FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND a.r = 1 AND b.r = 2) " +
        "SELECT p.doc_id, documents.lang AS true_lang, p.pred, p.best_u, " +
        "  CAST(p.margin_u AS BIGINT) AS margin_u " +
        "FROM p JOIN documents ON p.doc_id = documents.doc_id ORDER BY p.doc_id",
      nbCtesDuck + ", " +
        "p AS (SELECT a.doc_id, a.l AS pred, a.score_u AS best_u, " +
        "    a.score_u - b.score_u AS margin_u " +
        "  FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND a.r = 1 AND b.r = 2) " +
        "SELECT p.doc_id, documents.lang AS true_lang, p.pred, p.best_u, " +
        "  CAST(p.margin_u AS BIGINT) AS margin_u " +
        "FROM p JOIN documents ON p.doc_id = documents.doc_id ORDER BY p.doc_id"),

    // DSIR-style importance selection (Xie et al., NeurIPS'23): rank
    // raw documents by the log importance weight of a target-domain
    // (lang='en') unigram LM against the raw-corpus LM — the published
    // data-selection recipe for pretraining mixtures. w_u(d) = Σ_w
    // c_wd·[(L(c_w,tgt+1) − L(N_tgt+V)) − (L(c_w,raw+1) − L(N_raw+V))]
    // — exact lattice integers throughout (committed margin audit,
    // COVERAGE.md r16 / tools/margin_audit.py, over every distinct
    // operand — 53/52/61 at sf0.001/0.01/0.1: min boundary distance
    // 7.2e-4, 72× the guard); top-50 under
    // the unique (w_u, doc_id) total order. Selected set is 66-68%
    // target-lang vs 43.6% base rate at sf≥0.01 — genuinely selective.
    // Scale: doc-token relation keyed on w, both LMs broadcast.
    sql2("q_dsir_select",
      "WITH tok AS (SELECT doc_id, lang, w FROM documents " +
        "    LATERAL VIEW explode(split(text, ' ')) x AS w), " +
        "t AS (SELECT doc_id, lang, w FROM tok WHERE length(w) > 0), " +
        "dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c_wd FROM t GROUP BY 1, 2), " +
        "tgt AS (SELECT w, CAST(count(*) AS BIGINT) AS c_t FROM t WHERE lang = 'en' GROUP BY 1), " +
        "raw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_r FROM t GROUP BY 1), " +
        "v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM t), " +
        "nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t WHERE lang = 'en'), " +
        "nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t), " +
        "sc AS (SELECT dw.doc_id, " +
        s"    CAST(sum(dw.c_wd * ((${microLog2Guarded("COALESCE(tgt.c_t, 0) + 1")} - ${microLog2Guarded("nt.n + v.v")}) " +
        s"      - (${microLog2Guarded("raw.c_r + 1")} - ${microLog2Guarded("nr.n + v.v")}))) AS BIGINT) AS w_u " +
        "  FROM dw JOIN raw ON raw.w = dw.w LEFT JOIN tgt ON tgt.w = dw.w " +
        "  CROSS JOIN v CROSS JOIN nt CROSS JOIN nr GROUP BY 1) " +
        "SELECT sc.doc_id, documents.lang, sc.w_u " +
        "FROM sc JOIN documents ON sc.doc_id = documents.doc_id " +
        "ORDER BY sc.w_u DESC, sc.doc_id LIMIT 50",
      "WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "t AS (SELECT doc_id, lang, w FROM tok WHERE length(w) > 0), " +
        "dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c_wd FROM t GROUP BY 1, 2), " +
        "tgt AS (SELECT w, CAST(count(*) AS BIGINT) AS c_t FROM t WHERE lang = 'en' GROUP BY 1), " +
        "raw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_r FROM t GROUP BY 1), " +
        "v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM t), " +
        "nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t WHERE lang = 'en'), " +
        "nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t), " +
        "sc AS (SELECT dw.doc_id, " +
        s"    CAST(sum(dw.c_wd * ((${microLog2Duck("COALESCE(tgt.c_t, 0) + 1")} - ${microLog2Duck("nt.n + v.v")}) " +
        s"      - (${microLog2Duck("raw.c_r + 1")} - ${microLog2Duck("nr.n + v.v")}))) AS BIGINT) AS w_u " +
        "  FROM dw JOIN raw ON raw.w = dw.w LEFT JOIN tgt ON tgt.w = dw.w " +
        "  CROSS JOIN v CROSS JOIN nt CROSS JOIN nr GROUP BY 1) " +
        "SELECT sc.doc_id, documents.lang, sc.w_u " +
        "FROM sc JOIN documents ON sc.doc_id = documents.doc_id " +
        "ORDER BY sc.w_u DESC, sc.doc_id LIMIT 50"),

    // Decision-stump training — exact best-split search by weighted
    // Gini impurity for "is this order high-priority" on the order
    // value, over a fixed 19-threshold grid: rows are bucketized ONCE
    // (one fact aggregation to ≤ 20 cells), the grid×cell triangular
    // join replaces any prefix window, and every impurity is the SHORT
    // fixed-shape IEEE expression [n_l − (p_l²+q_l²)/n_l + n_r −
    // (p_r²+q_r²)/n_r]/N over exact BIGINTs — correctly-rounded
    // identical doubles on both engines, so the min() election is
    // deterministic even at the 4.3e-8 impurity gaps sf0.1 produces.
    sql2("q_decision_stump",
      "WITH lab AS (SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS b, " +
        "    CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS y FROM orders), " +
        "cell AS (SELECT b, CAST(count(*) AS BIGINT) AS n_b, CAST(sum(y) AS BIGINT) AS p_b FROM lab GROUP BY 1), " +
        "grid AS (SELECT CAST(g AS BIGINT) AS t FROM (SELECT explode(sequence(1, 19)) AS g)), " +
        "split AS (SELECT grid.t, " +
        "    CAST(sum(CASE WHEN cell.b < grid.t THEN cell.n_b ELSE 0 END) AS BIGINT) AS n_l, " +
        "    CAST(sum(CASE WHEN cell.b < grid.t THEN cell.p_b ELSE 0 END) AS BIGINT) AS p_l, " +
        "    CAST(sum(CASE WHEN cell.b >= grid.t THEN cell.n_b ELSE 0 END) AS BIGINT) AS n_r, " +
        "    CAST(sum(CASE WHEN cell.b >= grid.t THEN cell.p_b ELSE 0 END) AS BIGINT) AS p_r " +
        "  FROM grid CROSS JOIN cell GROUP BY 1), " +
        "imp AS (SELECT t, n_l, p_l, n_r, p_r, " +
        "    (CAST(n_l AS DOUBLE) - CAST(p_l * p_l + (n_l - p_l) * (n_l - p_l) AS DOUBLE) / CAST(n_l AS DOUBLE) " +
        "   + CAST(n_r AS DOUBLE) - CAST(p_r * p_r + (n_r - p_r) * (n_r - p_r) AS DOUBLE) / CAST(n_r AS DOUBLE)) " +
        "    / CAST(n_l + n_r AS DOUBLE) AS impurity " +
        "  FROM split WHERE n_l > 0 AND n_r > 0), " +
        "best AS (SELECT min(impurity) AS mi FROM imp) " +
        "SELECT imp.t AS threshold_bucket, CAST(imp.t * 25000 AS BIGINT) AS threshold, " +
        "  n_l, p_l, n_r, p_r, impurity, " +
        "  CAST(CASE WHEN imp.impurity = best.mi THEN 1 ELSE 0 END AS INT) AS is_best " +
        "FROM imp CROSS JOIN best ORDER BY imp.t",
      "WITH lab AS (SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS b, " +
        "    CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS y FROM orders), " +
        "cell AS (SELECT b, CAST(count(*) AS BIGINT) AS n_b, CAST(sum(y) AS BIGINT) AS p_b FROM lab GROUP BY 1), " +
        "grid AS (SELECT CAST(g AS BIGINT) AS t FROM generate_series(1, 19) AS s(g)), " +
        "split AS (SELECT grid.t, " +
        "    CAST(sum(CASE WHEN cell.b < grid.t THEN cell.n_b ELSE 0 END) AS BIGINT) AS n_l, " +
        "    CAST(sum(CASE WHEN cell.b < grid.t THEN cell.p_b ELSE 0 END) AS BIGINT) AS p_l, " +
        "    CAST(sum(CASE WHEN cell.b >= grid.t THEN cell.n_b ELSE 0 END) AS BIGINT) AS n_r, " +
        "    CAST(sum(CASE WHEN cell.b >= grid.t THEN cell.p_b ELSE 0 END) AS BIGINT) AS p_r " +
        "  FROM grid CROSS JOIN cell GROUP BY 1), " +
        "imp AS (SELECT t, n_l, p_l, n_r, p_r, " +
        "    (CAST(n_l AS DOUBLE) - CAST(p_l * p_l + (n_l - p_l) * (n_l - p_l) AS DOUBLE) / CAST(n_l AS DOUBLE) " +
        "   + CAST(n_r AS DOUBLE) - CAST(p_r * p_r + (n_r - p_r) * (n_r - p_r) AS DOUBLE) / CAST(n_r AS DOUBLE)) " +
        "    / CAST(n_l + n_r AS DOUBLE) AS impurity " +
        "  FROM split WHERE n_l > 0 AND n_r > 0), " +
        "best AS (SELECT min(impurity) AS mi FROM imp) " +
        "SELECT imp.t AS threshold_bucket, CAST(imp.t * 25000 AS BIGINT) AS threshold, " +
        "  n_l, p_l, n_r, p_r, impurity, " +
        "  CAST(CASE WHEN imp.impurity = best.mi THEN 1 ELSE 0 END AS INT) AS is_best " +
        "FROM imp CROSS JOIN best ORDER BY imp.t"),

    // k-NN classification over the embedding table — majority label of
    // the 10 nearest held-out vectors (cosine, the q_ann_exact
    // discipline: 6-dp-rounded ranking with neighbor_id tie-break, so
    // the neighbor SET is deterministic) with a (votes desc, label asc)
    // vote election. Queries are vec_id < 50, candidates vec_id ≥ 50 —
    // disjoint, no self-match. The oracle brute-forces every cosine and
    // replays the vote. Engine side rides the codegen VectorDot
    // brute-force path; the vote is one small keyed aggregation.
    dfq("q_knn_classify",
      "WITH pairs AS (" +
        "  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.embedding AS qv, c.embedding AS cv" +
        "  FROM embeddings q, embeddings c WHERE q.vec_id < 50 AND c.vec_id >= 50" +
        "), dots AS (" +
        "  SELECT query_id, neighbor_id, sum(qa * ca) AS dotp," +
        "    sqrt(sum(qa * qa)) AS na, sqrt(sum(ca * ca)) AS nb" +
        "  FROM (SELECT query_id, neighbor_id, unnest(qv)::DOUBLE AS qa," +
        "        unnest(cv)::DOUBLE AS ca FROM pairs) u" +
        "  GROUP BY query_id, neighbor_id" +
        "), scored AS (" +
        "  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id" +
        "      ORDER BY round(dotp / (na * nb), 6) DESC, neighbor_id) AS rnk" +
        "  FROM dots), " +
        "votes AS (SELECT s.query_id, e.label AS lab, CAST(count(*) AS BIGINT) AS nv " +
        "  FROM scored s JOIN embeddings e ON e.vec_id = s.neighbor_id " +
        "  WHERE s.rnk <= 10 GROUP BY 1, 2), " +
        "pr AS (SELECT query_id, lab, nv, " +
        "    row_number() OVER (PARTITION BY query_id ORDER BY nv DESC, lab) AS r FROM votes) " +
        "SELECT p.query_id, CAST(q.label AS INT) AS true_label, CAST(p.lab AS INT) AS pred_label, " +
        "  p.nv AS votes " +
        "FROM pr p JOIN embeddings q ON q.vec_id = p.query_id " +
        "WHERE p.r = 1 ORDER BY p.query_id") { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val top = graft.operators.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= 50), emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 10, rankRounded = true)
      val votes = top
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label").as("lab")), "neighbor_id")
        .groupBy(col("query_id"), col("lab"))
        .agg(count(lit(1)).cast("long").as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("nv").desc, col("lab"))
      votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .join(emb.select(col("vec_id").as("query_id"), col("label").as("true_label")), "query_id")
        .select(col("query_id"), col("true_label").cast("int"),
          col("lab").cast("int").as("pred_label"), col("nv").as("votes"))
        .orderBy("query_id")
    },

    // Zipf rank-frequency slope of the token distribution — the
    // tokenizer-design readout (how fast the long tail decays): a
    // log-log regression of frequency on rank over the top-200 tokens,
    // with BOTH coordinates on the micro-bit lattice (x = L(rank),
    // y = L(count); committed margin audit, COVERAGE.md r16 /
    // tools/margin_audit.py — 57/55/61 distinct operands at
    // sf0.001/0.01/0.1, min boundary distance 7.2e-4, 72× the guard).
    // All four regression moments are exact BIGINT sums over the
    // ≤ 200-row relation (maxima ≤ 5.2e18 at sf0.1); the slope's
    // k·sxy − sx·sy and k·sx2 − sx² combinations are ~200× the moments
    // and would overflow int64 from roughly sf0.3, so each engine
    // forms them in its own exact wide type (HUGEINT / DECIMAL(38,0),
    // the q_hhi discipline) before the ONE IEEE division of two
    // exact integers. Rank is the bounded triangular
    // self-join over the top-K relation — never a partition-less
    // window; the top-K cut itself is a TakeOrdered.
    sql2("q_zipf_slope",
      "WITH tok AS (SELECT w FROM documents LATERAL VIEW explode(split(text, ' ')) x AS w), " +
        "c AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok WHERE length(w) > 0 GROUP BY 1), " +
        "top AS (SELECT w, n FROM c ORDER BY n DESC, w LIMIT 200), " +
        "rk AS (SELECT a.w, a.n, CAST(count(*) AS BIGINT) AS r " +
        "  FROM top a JOIN top b ON b.n > a.n OR (b.n = a.n AND b.w <= a.w) GROUP BY 1, 2), " +
        s"xy AS (SELECT ${microLog2Guarded("r")} AS x, ${microLog2Guarded("n")} AS y FROM rk), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx, " +
        "    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy, " +
        "    CAST(sum(x * x) AS BIGINT) AS sx2 FROM xy) " +
        "SELECT k AS n_points, sx AS sum_x, sy AS sum_y, sxy AS sum_xy, sx2 AS sum_x2, " +
        "  CAST(CAST(k AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE) " +
        "  / CAST(CAST(k AS DECIMAL(38,0)) * sx2 - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) AS slope " +
        "FROM m",
      "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "c AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok WHERE length(w) > 0 GROUP BY 1), " +
        "top AS (SELECT w, n FROM c ORDER BY n DESC, w LIMIT 200), " +
        "rk AS (SELECT a.w, a.n, CAST(count(*) AS BIGINT) AS r " +
        "  FROM top a JOIN top b ON b.n > a.n OR (b.n = a.n AND b.w <= a.w) GROUP BY 1, 2), " +
        s"xy AS (SELECT ${microLog2Duck("r")} AS x, ${microLog2Duck("n")} AS y FROM rk), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx, " +
        "    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy, " +
        "    CAST(sum(x * x) AS BIGINT) AS sx2 FROM xy) " +
        "SELECT k AS n_points, sx AS sum_x, sy AS sum_y, sxy AS sum_xy, sx2 AS sum_x2, " +
        "  CAST(CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) " +
        "  / CAST(CAST(k AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope " +
        "FROM m"),

    // Synchronous label propagation (Raghavan et al. 2007) on the
    // co-purchase graph, 3 fixed rounds — community detection's cheap
    // workhorse, made deterministic and oracle-replayable: labels start
    // as node ids, each round every node adopts the (count desc, label
    // asc)-elected majority label of its neighbors. Every election is
    // over exact integer counts with a total tie order, so both engines
    // derive the identical label relation; the fixed round count is
    // part of the semantics (the async/random variants are not
    // replayable). Emits the 25 largest communities. Scale: each round
    // is one edges⋈labels equi-join + a keyed count + a keyed
    // row_number — at cluster scale the rounds run through the
    // checkpointed-loop discipline (graft.operators.OpCaches.materialize).
    // Engine side persists po/pr/e once (r21): the oracle text references
    // `e` four times (l0 + the three round joins) and each reference
    // inlined the whole repeat-graph build (32 parquet scans in the
    // before plan).
    dfq("q_label_prop",
      "WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "pr AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p " +
        "  GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr), " +
        "l0 AS (SELECT DISTINCT u AS node, u AS lab FROM e), " +
        "c1 AS (SELECT e.u AS node, l0.lab, CAST(count(*) AS BIGINT) AS c " +
        "  FROM e JOIN l0 ON e.v = l0.node GROUP BY 1, 2), " +
        "l1 AS (SELECT node, lab FROM (SELECT node, lab, " +
        "    row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c1) t WHERE rn = 1), " +
        "c2 AS (SELECT e.u AS node, l1.lab, CAST(count(*) AS BIGINT) AS c " +
        "  FROM e JOIN l1 ON e.v = l1.node GROUP BY 1, 2), " +
        "l2 AS (SELECT node, lab FROM (SELECT node, lab, " +
        "    row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c2) t WHERE rn = 1), " +
        "c3 AS (SELECT e.u AS node, l2.lab, CAST(count(*) AS BIGINT) AS c " +
        "  FROM e JOIN l2 ON e.v = l2.node GROUP BY 1, 2), " +
        "l3 AS (SELECT node, lab FROM (SELECT node, lab, " +
        "    row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c3) t WHERE rn = 1) " +
        "SELECT lab AS community, CAST(count(*) AS BIGINT) AS size_n, " +
        "  CAST(min(node) AS BIGINT) AS min_node, CAST(sum(node) AS BIGINT) AS sum_nodes " +
        "FROM l3 GROUP BY 1 ORDER BY size_n DESC, community LIMIT 25") { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      Queries.checkpointedView(s, "graft_lpp_po",
        "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem")
      Queries.checkpointedView(s, "graft_lpp_pr",
        "SELECT a.p AS u, b.p AS v FROM graft_lpp_po a " +
          "JOIN graft_lpp_po b ON a.o = b.o AND a.p < b.p " +
          "GROUP BY 1, 2 HAVING count(*) >= 2")
      Queries.checkpointedView(s, "graft_lpp_e",
        "SELECT u, v FROM graft_lpp_pr UNION ALL SELECT v, u FROM graft_lpp_pr")
      s.sql(
        "WITH l0 AS (SELECT DISTINCT u AS node, u AS lab FROM graft_lpp_e), " +
          "c1 AS (SELECT e.u AS node, l0.lab, CAST(count(*) AS BIGINT) AS c " +
          "  FROM graft_lpp_e e JOIN l0 ON e.v = l0.node GROUP BY 1, 2), " +
          "l1 AS (SELECT node, lab FROM (SELECT node, lab, " +
          "    row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c1) t WHERE rn = 1), " +
          "c2 AS (SELECT e.u AS node, l1.lab, CAST(count(*) AS BIGINT) AS c " +
          "  FROM graft_lpp_e e JOIN l1 ON e.v = l1.node GROUP BY 1, 2), " +
          "l2 AS (SELECT node, lab FROM (SELECT node, lab, " +
          "    row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c2) t WHERE rn = 1), " +
          "c3 AS (SELECT e.u AS node, l2.lab, CAST(count(*) AS BIGINT) AS c " +
          "  FROM graft_lpp_e e JOIN l2 ON e.v = l2.node GROUP BY 1, 2), " +
          "l3 AS (SELECT node, lab FROM (SELECT node, lab, " +
          "    row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c3) t WHERE rn = 1) " +
          "SELECT lab AS community, CAST(count(*) AS BIGINT) AS size_n, " +
          "  CAST(min(node) AS BIGINT) AS min_node, CAST(sum(node) AS BIGINT) AS sum_nodes " +
          "FROM l3 GROUP BY 1 ORDER BY size_n DESC, community LIMIT 25")
    },

    // Landmark closeness centrality: exact BFS distances from the 8
    // smallest node ids (the deterministic landmark set), hop-capped at
    // 12 — the scale substitute for O(V·E) all-pairs closeness. Per
    // node: landmarks reached, Σ distance, and HARMONIC closeness as
    // the exact integer Σ 27720/d (27720 = lcm(1..12), so every
    // reciprocal is integral — no float sum over a variable-order
    // aggregate). Engine side is Components.landmarkDistances (the
    // bfsHops loop lifted to a (landmark, node) key); the oracle
    // replays the capped BFS as a recursive CTE.
    dfq("q_closeness",
      "WITH RECURSIVE po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "pr AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p " +
        "  GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr), " +
        "nodes AS (SELECT DISTINCT u AS id FROM e), " +
        "lms AS (SELECT id FROM nodes ORDER BY id LIMIT 8), " +
        "reach(lm, id, d) AS (SELECT id, id, 0 FROM lms " +
        "  UNION SELECT reach.lm, e.v, reach.d + 1 FROM reach JOIN e ON e.u = reach.id WHERE reach.d < 12), " +
        "md AS (SELECT lm, id, min(d) AS d FROM reach GROUP BY 1, 2) " +
        "SELECT n.id AS node, " +
        "  CAST(coalesce(sum(CASE WHEN md.d > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_reached, " +
        "  CAST(coalesce(sum(md.d), 0) AS BIGINT) AS sum_d, " +
        "  CAST(coalesce(sum(CASE WHEN md.d > 0 THEN CAST(floor(27720.0 / md.d) AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS harmonic_u " +
        "FROM nodes n LEFT JOIN md ON md.id = n.id GROUP BY n.id ORDER BY node") { (s, dir) =>
      Tables.registerAll(s, dir)
      // Persisted once (r21): the node list below and the operator's
      // internal symmetrize both consume this relation — unpersisted,
      // the lineitem self-join + HAVING ran three times per lap (the
      // node-list union is two scans).
      val pr = graft.operators.OpCaches.track(s.sql(
        "SELECT a.p AS u, b.p AS v FROM " +
          "(SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a JOIN " +
          "(SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b " +
          "ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p HAVING count(*) >= 2").persist())
      val nodes = pr.select(col("u").as("id")).union(pr.select(col("v").as("id"))).distinct()
      val dists = graft.operators.Components.landmarkDistances(pr, "u", "v", nLandmarks = 8, maxHops = 12)
      val agg = dists.groupBy(col("id"))
        .agg(
          sum(when(col("hops") > 0, 1L).otherwise(0L)).cast("long").as("n_reached"),
          sum(col("hops")).cast("long").as("sum_d"),
          sum(when(col("hops") > 0,
            floor(lit(27720.0) / col("hops")).cast("long")).otherwise(0L)).cast("long").as("harmonic_u"))
      nodes.join(agg, Seq("id"), "left")
        .select(col("id").as("node"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("sum_d"), lit(0L)).as("sum_d"),
          coalesce(col("harmonic_u"), lit(0L)).as("harmonic_u"))
        .orderBy("node")
    },

    // Classical additive time-series decomposition of the daily order
    // count: trend = centered 7-day moving average, seasonal = per-
    // weekday mean of the detrended series, residual = remainder — the
    // pre-forecasting diagnostic. EVERYTHING rides integer sevenths:
    // trend_u7 = Σ±3 counts (exact, via a bounded date-range self-join
    // on the DAY relation — never a partition-less window), detrended
    // 7y − trend_u7 exact, seasonal numerator an exact BIGINT sum; the
    // double-space trend/seasonal/residual are fixed-shape expressions
    // with one division each — bit-identical cross-engine. Interior
    // days only (all 7 calendar neighbors present). The weekday key
    // never leaves the query, so each engine's dayofweek convention is
    // irrelevant — only the period-7 equivalence classes matter.
    sql("q_ts_decompose",
      "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y " +
        "  FROM orders GROUP BY 1), " +
        "tr AS (SELECT a.day, a.y, CAST(sum(b.y) AS BIGINT) AS trend_u7, CAST(count(*) AS BIGINT) AS nw " +
        "  FROM d a JOIN d b ON b.day BETWEEN a.day - 3 AND a.day + 3 GROUP BY 1, 2), " +
        "t7 AS (SELECT day, y, trend_u7 FROM tr WHERE nw = 7), " +
        "det AS (SELECT day, y, trend_u7, 7 * y - trend_u7 AS det_u7, dayofweek(day) AS wd FROM t7), " +
        "s AS (SELECT wd, CAST(sum(det_u7) AS BIGINT) AS s_num, CAST(count(*) AS BIGINT) AS n_wd " +
        "  FROM det GROUP BY 1) " +
        "SELECT det.day, det.y, det.trend_u7, s.s_num, s.n_wd, " +
        "  CAST(det.trend_u7 AS DOUBLE) / 7.0 AS trend, " +
        "  CAST(s.s_num AS DOUBLE) / CAST(7 * s.n_wd AS DOUBLE) AS seasonal, " +
        "  CAST(det.y AS DOUBLE) - CAST(det.trend_u7 AS DOUBLE) / 7.0 " +
        "    - CAST(s.s_num AS DOUBLE) / CAST(7 * s.n_wd AS DOUBLE) AS residual " +
        "FROM det JOIN s ON det.wd = s.wd ORDER BY det.day"),

    // Seasonal-naive forecast evaluation — MASE (Hyndman & Koehler
    // 2006): the standard "is your model better than y_{t−7}?"
    // benchmark gate. Numerator Σ|y_t − y_{t−7}| and denominator
    // Σ|y_t − y_{t−1}| are exact BIGINT sums over days where BOTH lags
    // exist (lag alignment via two date-equi self-joins on the bounded
    // day relation — no window anywhere); MASE is ONE IEEE division.
    sql("q_mase_baseline",
      "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y " +
        "  FROM orders GROUP BY 1), " +
        "j AS (SELECT a.day, a.y, s.y AS y_lag7, p.y AS y_lag1 " +
        "  FROM d a JOIN d s ON s.day = a.day - 7 JOIN d p ON p.day = a.day - 1) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_days, " +
        "  CAST(sum(abs(y - y_lag7)) AS BIGINT) AS sum_naive_err, " +
        "  CAST(sum(abs(y - y_lag1)) AS BIGINT) AS sum_rw_err, " +
        "  CAST(sum(abs(y - y_lag7)) AS DOUBLE) / CAST(sum(abs(y - y_lag1)) AS DOUBLE) AS mase " +
        "FROM j"),

    // Exact point-in-polygon spatial join — ray-casting crossing parity
    // with ENTIRELY integer arithmetic: points are deterministic
    // integer coordinates derived from event ids, polygons (one convex,
    // one triangle, one concave, one reflex) are integer-vertex VALUES
    // literals, and each edge-crossing test is the cross-multiplied
    // form sign((py−y1)(x2−x1) − (px−x1)(y2−y1)) against the half-open
    // vertical rule (y1>py) ≠ (y2>py) — no division anywhere, so parity
    // is exact on any engine. Emits per-polygon containment counts and
    // the contained-id checksum. Scale: the polygon cell/edge relations
    // broadcast, and a bbox GRID PREFILTER (Spatial.bboxCandidates — an
    // equi-join on grid cell against the broadcast covered-cell
    // relation) bounds the pair volume: only bbox survivors reach the
    // 18-edge parity test. The prefilter is LOSSLESS (every
    // non-candidate has even crossing parity — see Spatial scaladoc),
    // which the oracle proves by re-deriving the same counts from the
    // UNFILTERED points×edges cross join. Non-cartesian, broadcast-
    // hash-only plan asserted in PlanAuditSpec.
    dfq("q_point_in_polygon",
      "WITH pts AS (SELECT event_id, (event_id * 48271) % 1000 AS px, " +
        "    (event_id * 16807) % 1000 AS py FROM events), " +
        "poly AS (SELECT * FROM (VALUES " +
        "  (1, 1, 100, 100, 400, 100), (1, 2, 400, 100, 400, 400), (1, 3, 400, 400, 100, 400), (1, 4, 100, 400, 100, 100), " +
        "  (2, 1, 500, 500, 900, 500), (2, 2, 900, 500, 700, 900), (2, 3, 700, 900, 500, 500), " +
        "  (3, 1, 0, 600, 300, 600), (3, 2, 300, 600, 300, 800), (3, 3, 300, 800, 150, 800), " +
        "  (3, 4, 150, 800, 150, 999), (3, 5, 150, 999, 0, 999), (3, 6, 0, 999, 0, 600), " +
        "  (4, 1, 600, 0, 999, 0), (4, 2, 999, 0, 999, 300), (4, 3, 999, 300, 800, 150), " +
        "  (4, 4, 800, 150, 600, 300), (4, 5, 600, 300, 600, 0) " +
        "  ) v(pid, i, x1, y1, x2, y2)), " +
        "cr AS (SELECT p.event_id, g.pid, " +
        "    CAST(sum(CASE WHEN (g.y1 > p.py) <> (g.y2 > p.py) " +
        "      AND (CASE WHEN g.y2 > g.y1 " +
        "           THEN (p.py - g.y1) * (g.x2 - g.x1) - (p.px - g.x1) * (g.y2 - g.y1) > 0 " +
        "           ELSE (p.py - g.y1) * (g.x2 - g.x1) - (p.px - g.x1) * (g.y2 - g.y1) < 0 END) " +
        "      THEN 1 ELSE 0 END) AS BIGINT) AS crossings " +
        "  FROM pts p CROSS JOIN poly g GROUP BY 1, 2) " +
        "SELECT pid AS polygon_id, CAST(sum(crossings % 2) AS BIGINT) AS n_inside, " +
        "  CAST(sum(CASE WHEN crossings % 2 = 1 THEN event_id ELSE 0 END) AS BIGINT) AS id_sum " +
        "FROM cr GROUP BY 1 ORDER BY 1") { (s, dir) =>
      import s.implicits._
      val pts = Tables.load(s, dir, "events")
        .select(col("event_id"),
          (col("event_id") * 48271L % 1000L).as("px"),
          (col("event_id") * 16807L % 1000L).as("py"))
      val edges = Seq(
        (1, 1, 100, 100, 400, 100), (1, 2, 400, 100, 400, 400),
        (1, 3, 400, 400, 100, 400), (1, 4, 100, 400, 100, 100),
        (2, 1, 500, 500, 900, 500), (2, 2, 900, 500, 700, 900),
        (2, 3, 700, 900, 500, 500),
        (3, 1, 0, 600, 300, 600), (3, 2, 300, 600, 300, 800),
        (3, 3, 300, 800, 150, 800), (3, 4, 150, 800, 150, 999),
        (3, 5, 150, 999, 0, 999), (3, 6, 0, 999, 0, 600),
        (4, 1, 600, 0, 999, 0), (4, 2, 999, 0, 999, 300),
        (4, 3, 999, 300, 800, 150), (4, 4, 800, 150, 600, 300),
        (4, 5, 600, 300, 600, 0)
      ).toDF("pid", "i", "x1", "y1", "x2", "y2")
      graft.operators.Spatial.pointInPolygonCounts(pts, edges, idCol = "event_id", cellSize = 250)
    },

    // Cross-classifier agreement — Cohen's kappa between the repo's two
    // independent language classifiers over the SAME documents: the
    // in-engine-trained naive-Bayes model (q_naive_bayes — shares the
    // nbCtes* scoring CTEs verbatim, so the entries can never train
    // subtly different models) and the profile-based lang-ID heuristic
    // (q_lang_id / TextAnalysis.withLanguageId). Honest readout: the
    // synthetic langs SHARE one vocabulary and differ only in word
    // FREQUENCIES, so the vocabulary-profile heuristic collapses toward
    // the majority lang while frequency-based NB discriminates — kappa
    // ≈ −0.08 at sf0.01 (agreement no better than marginal chance),
    // exactly the label-quality signal that tells a curation pipeline
    // its cheap heuristic needs replacing by the trained model. Every
    // cell, marginal, and product an exact BIGINT; kappa =
    // (N·Σn_ii − Σr_i·c_i)/(N² − Σr_i·c_i), ONE IEEE division (the
    // q_cohens_kappa discipline). Scale: NB rides its w-keyed relation,
    // lang-ID is one compiled kernel pass, the agreement join is
    // doc-keyed, marginals/totals are broadcast scalars.
    dfq("q_classifier_agreement",
      nbCtesDuck + ", " +
        "nb AS (SELECT doc_id, l AS nb_pred FROM rk WHERE r = 1), " +
        "lid AS (" +
        graft.operators.TextAnalysis.langIdPerDocOracleSql("documents", "text", "doc_id") +
        "), " +
        "cell AS (SELECT nb.nb_pred, lid.lang_pred AS lid_pred, CAST(count(*) AS BIGINT) AS n_c " +
        "  FROM nb JOIN lid ON nb.doc_id = lid.doc_id GROUP BY 1, 2), " +
        "m1 AS (SELECT nb_pred AS c, CAST(sum(n_c) AS BIGINT) AS rn FROM cell GROUP BY 1), " +
        "m2 AS (SELECT lid_pred AS c, CAST(sum(n_c) AS BIGINT) AS cn FROM cell GROUP BY 1), " +
        "tots AS (SELECT CAST(sum(n_c) AS BIGINT) AS n, " +
        "    CAST(sum(CASE WHEN nb_pred = lid_pred THEN n_c ELSE 0 END) AS BIGINT) AS agree FROM cell), " +
        "pe AS (SELECT CAST(sum(m1.rn * m2.cn) AS BIGINT) AS pe_num FROM m1 JOIN m2 ON m1.c = m2.c) " +
        "SELECT cell.nb_pred, cell.lid_pred, cell.n_c, tots.n, tots.agree, pe.pe_num, " +
        "  CAST(tots.n * tots.agree - pe.pe_num AS DOUBLE) / CAST(tots.n * tots.n - pe.pe_num AS DOUBLE) AS kappa " +
        "FROM cell CROSS JOIN tots CROSS JOIN pe ORDER BY 1, 2") { (s, dir) =>
      Tables.registerAll(s, dir)
      val nb = s.sql(nbCtesSpark + " SELECT doc_id, l AS nb_pred FROM rk WHERE r = 1")
      val lid = graft.operators.TextAnalysis.withLanguageId(
          Tables.load(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang_pred").as("lid_pred"))
      // The cell relation feeds FIVE plan branches (cell, both
      // marginals, totals, pe) — without a persist Catalyst re-runs the
      // whole NB scoring pipeline per branch (measured 11.8 s vs ~2.4 s
      // at sf0.1). ≤ |langs|² rows; released by the harness via OpCaches.
      val cell = graft.operators.OpCaches.track(
        nb.join(lid, Seq("doc_id"))
          .groupBy("nb_pred", "lid_pred")
          .agg(count(lit(1)).cast("long").as("n_c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val m1 = cell.groupBy(col("nb_pred").as("c")).agg(sum("n_c").cast("long").as("rn"))
      val m2 = cell.groupBy(col("lid_pred").as("c")).agg(sum("n_c").cast("long").as("cn"))
      val tots = cell.agg(
        sum("n_c").cast("long").as("n"),
        sum(when(col("nb_pred") === col("lid_pred"), col("n_c")).otherwise(0L))
          .cast("long").as("agree"))
      val pe = m1.join(m2, "c").agg(sum(col("rn") * col("cn")).cast("long").as("pe_num"))
      cell.crossJoin(tots).crossJoin(pe)
        .select(col("nb_pred"), col("lid_pred"), col("n_c"), col("n"),
          col("agree"), col("pe_num"),
          ((col("n") * col("agree") - col("pe_num")).cast("double") /
            (col("n") * col("n") - col("pe_num")).cast("double")).as("kappa"))
        .orderBy("nb_pred", "lid_pred")
    },
  )
}
