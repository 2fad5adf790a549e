package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions._
import graft.ops.{Dedup, Knn, Retrieval, TextAnalysis}

/** Driver contract — queries + DuckDB oracle SQL (SURVEY.md §2b inventory).
  *
  * Conventions that keep the Spark result and the DuckDB oracle hash-equal:
  *  - identical output column names on both sides (driver sorts by name);
  *  - double sums go through an exact DECIMAL cast on both sides, then back
  *    to double, so accumulation order can't flip a ULP;
  *  - divisions happen on the already-exact doubles on both sides;
  *  - timestamp-valued outputs are cast to DATE or formatted strings
  *    (parquet timestamp-zone semantics differ between writers);
  *  - every ORDER BY under a LIMIT carries a unique tiebreak key.
  */
object SparkEntry {

  /** The q_langid_nb oracle's full model-replay chain, factored so
    * q_langid_nb, q_langid_nb_lazy and q_ccnet_buckets share ONE
    * character-identical langid replay (train + dense table + priors +
    * per-doc argmax in `pick`). Ends at CTE `pick`; callers append their
    * own final SELECT (and further CTEs may precede via the WITH head). */
  private def langidNbCtes: String =
    s"""tt AS (
      |  SELECT doc_id, lang, lower(trim(text)) AS t
      |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
      |td AS (SELECT * FROM tt WHERE len(t) >= 3),
      |ft AS (
      |  SELECT doc_id, lang, substr(t, CAST(s AS INT), 3) AS g
      |  FROM td, unnest(range(1, len(t) - 1)) u(s)),
      |gv AS (SELECT DISTINCT g FROM ft),
      |${fnvFoldCtes("gf", "gv", "g", "g")},
      |gmap AS (SELECT k AS g, CAST(ch % 1024 AS BIGINT) AS b FROM gf),
      |f AS (SELECT doc_id, lang, b FROM ft JOIN gmap USING (g)),
      |cnt AS (SELECT lang, b, count(*) AS c FROM f GROUP BY 1, 2),
      |ctot AS (SELECT lang, count(*) AS ct FROM f GROUP BY 1),
      |bs AS (SELECT CAST(unnest(range(0, 1024)) AS BIGINT) AS b),
      |dense AS (
      |  SELECT ct.lang, bs.b,
      |    CAST(round(ln(CAST(coalesce(cnt.c, 0) + 1 AS DOUBLE)
      |      / CAST(ct.ct + 1024 AS DOUBLE)) * 1000000.0) AS BIGINT) AS lmic
      |  FROM ctot ct CROSS JOIN bs
      |  LEFT JOIN cnt ON cnt.lang = ct.lang AND cnt.b = bs.b),
      |pr AS (
      |  SELECT lang, CAST(round(ln(CAST(count(*) AS DOUBLE)
      |    / CAST((SELECT count(*) FROM td) AS DOUBLE)) * 1000000.0) AS BIGINT)
      |    AS pmic
      |  FROM td GROUP BY lang),
      |fs AS (SELECT doc_id, b FROM f),
      |s1 AS (
      |  SELECT fs.doc_id, d.lang, sum(d.lmic) AS s
      |  FROM fs JOIN dense d USING (b) GROUP BY 1, 2),
      |s2 AS (
      |  SELECT s1.doc_id, s1.lang, s1.s + pr.pmic AS tot
      |  FROM s1 JOIN pr USING (lang)),
      |pick AS (
      |  SELECT doc_id, lang, tot,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY tot DESC, lang) AS rn
      |  FROM s2)""".stripMargin

  /** The full CCNet trajectory shared CHARACTER-IDENTICALLY by
    * q_ccnet_buckets and q_ccnet_sample: langid argmax ([[langidNbCtes]]),
    * per-predicted-language KN trigram model + self-score, and the
    * ntile(3) tercile assignment. Ends at CTE
    * `cbck(doc_id, lang_pred, avg_logprob, ppl_bucket)`; callers append
    * their own final SELECT (and further CTEs). */
  private def ccnetCtes: String =
    s"""$langidNbCtes,
      |lpred AS (SELECT doc_id, lang AS lg FROM pick WHERE rn = 1),
      |ktk AS (
      |  SELECT d.doc_id, lp.lg,
      |    list_filter(string_split_regex(lower(trim(d.text)), '\\s+'), t -> t <> '') AS tk
      |  FROM documents d JOIN lpred lp USING (doc_id)),
      |ktg AS MATERIALIZED (
      |  SELECT doc_id, lg, tk[s2+1] AS w1, tk[s2+2] AS w2, tk[s2+3] AS w3,
      |    tk[s2+1] || ' ' || tk[s2+2] AS h12,
      |    tk[s2+2] || ' ' || tk[s2+3] AS h23,
      |    tk[s2+1] || ' ' || tk[s2+2] || ' ' || tk[s2+3] AS g3
      |  FROM (SELECT * FROM ktk WHERE len(tk) >= 3), unnest(range(0, len(tk)-2)) u(s2)),
      |ktrip AS (
      |  SELECT lg, g3, min(h12) AS h12, min(h23) AS h23, min(w2) AS w2,
      |    min(w3) AS w3, count(*) AS c123
      |  FROM ktg GROUP BY lg, g3),
      |khist AS (SELECT lg, h12, sum(c123) AS c12tot, count(*) AS n1p12
      |          FROM ktrip GROUP BY lg, h12),
      |kcont AS (SELECT lg, h23, min(w2) AS w2, min(w3) AS w3,
      |            count(*) AS ndot23
      |          FROM ktrip GROUP BY lg, h23),
      |kmid AS (SELECT lg, w2, sum(ndot23) AS ndotw2dot,
      |           count(*) AS n1pw2dot
      |         FROM kcont GROUP BY lg, w2),
      |kuni AS (SELECT lg, w3, count(*) AS ndotw3 FROM kcont GROUP BY lg, w3),
      |knv AS (SELECT lg, CAST(count(*) AS DOUBLE) AS nn,
      |               CAST(count(DISTINCT w3) AS DOUBLE) AS vv
      |        FROM kcont GROUP BY lg),
      |klp AS (
      |  SELECT t.lg, t.g3, CAST(round(ln(
      |    (greatest(CAST(t.c123 AS DOUBLE) - 0.75, 0.0)
      |      + 0.75 * CAST(h.n1p12 AS DOUBLE) *
      |        ((greatest(CAST(c.ndot23 AS DOUBLE) - 0.75, 0.0)
      |          + 0.75 * CAST(m.n1pw2dot AS DOUBLE) *
      |            ((CAST(u.ndotw3 AS DOUBLE) + 1.0) / (nv.nn + nv.vv + 1.0)))
      |         / CAST(m.ndotw2dot AS DOUBLE)))
      |    / CAST(h.c12tot AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
      |  FROM ktrip t
      |  JOIN khist h ON h.lg = t.lg AND h.h12 = t.h12
      |  JOIN kcont c ON c.lg = t.lg AND c.h23 = t.h23
      |  JOIN kmid m ON m.lg = t.lg AND m.w2 = t.w2
      |  JOIN kuni u ON u.lg = t.lg AND u.w3 = t.w3
      |  JOIN knv nv ON nv.lg = t.lg),
      |ksc AS (
      |  SELECT g.doc_id, g.lg AS lang_pred,
      |    CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT)
      |      / 1000000.0 AS avg_logprob
      |  FROM ktg g JOIN klp ON klp.lg = g.lg AND klp.g3 = g.g3
      |  GROUP BY g.doc_id, g.lg),
      |cbck AS (
      |  SELECT doc_id, lang_pred, avg_logprob,
      |    CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
      |      ELSE 'tail' END AS ppl_bucket
      |  FROM (SELECT *, ntile(3) OVER (
      |          PARTITION BY lang_pred ORDER BY avg_logprob DESC, doc_id) AS nt
      |        FROM ksc))""".stripMargin

  /** Spark side of the shared CCNet trajectory (see [[ccnetCtes]]):
    * langidNb argmax → per-language knTrain (groupCols: every grain gains
    * the group key) → self-score → pplTerciles histogram split. The
    * scored corpus is materialized ONCE (the q_kn_curate stage-boundary
    * stance): pplTerciles reads its input 3x (range agg, bucket counts,
    * assignment) and would re-run the langid join + 5 KN model joins each
    * time otherwise. */
  private def ccnetBucketed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val lang = TextAnalysis.langidNb(docs,
      docs.filter(col("lang").isNotNull), "text", "lang", "doc_id",
      buckets = 1024)
    // r21 §2.4: the langid-tagged corpus has TWO consumers (knTrain's
    // type aggregate and knScore's trigram stream) — without the
    // checkpoint the whole langid scoring pipeline (trigram hash join +
    // dense-LUT sum + argmax window) replays once per consumer. Lazy:
    // it materializes inside the first downstream action.
    // r21 §2.6 NEGATIVE RESULT (journal): widening this pinned join output
    // (an explicit repartition by doc_id, since reverted) before the
    // checkpoint was implemented and measured WORSE at sf0.1 on 32 cores
    // (interleaved tools.Profile: q_ccnet_buckets 4.60 → 6.19 s,
    // q_ccnet_sample 4.39 → 6.85 s) even
    // though the trigram explodes then ran 32-way instead of 1-way —
    // allocation-heavy string work contends catastrophically at 32-way on
    // this box (task-time sum 1.3 → 21.3 s). Reverted to the narrow
    // AQE-coalesced layout.
    val withLang = docs.select(col("doc_id"), col("text"))
      .join(lang.select(col("doc_id"), col("lang_pred")), Seq("doc_id"))
      .localCheckpoint(false)
    val model = ops.Selection.knTrain(withLang, "text",
      groupCols = Seq("lang_pred"))
    val kn = ops.Selection.knScore(model, withLang, "text", "doc_id",
      groupCols = Seq("lang_pred")).localCheckpoint(false)
    ops.Selection.pplTerciles(kn, "lang_pred", "doc_id", "avg_logprob",
      buckets = 64)
  }

  /** One registered query: Spark side + optional DuckDB oracle SQL. */
  private final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))

  private def dec(c: Column, scale: Int = 2): Column =
    c.cast(DecimalType(28, scale)).cast("double")

  /** DuckDB replay of [[ops.Graph.pageRank]] at damping 85/100, scale 10⁹,
    * over the documents bigram graph: the identical integer recursion
    * unrolled as chained CTEs, one (contribution join, rank rebuild) pair
    * per iteration. Generated rather than hand-copied so the per-iteration
    * arithmetic is character-identical across steps. */
  private def pageRankOracle(iters: Int): String = {
    val head =
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> t <> '') AS tk
        |  FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT tk[i+1] AS w1, tk[i+2] AS w2, CAST(count(*) AS BIGINT) AS c
        |  FROM tok, unnest(range(0, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2 GROUP BY 1, 2),
        |nodes AS MATERIALIZED (
        |  SELECT DISTINCT w
        |  FROM (SELECT w1 AS w FROM bg UNION SELECT w2 AS w FROM bg)),
        |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        |ow AS MATERIALIZED (SELECT w1, sum(c) AS wout FROM bg GROUP BY 1),
        |r0 AS MATERIALIZED (SELECT w AS node, 1000000000 // n AS r
        |       FROM nodes CROSS JOIN nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |c$i AS (
         |  SELECT bg.w2 AS node,
         |    sum((85 * r${i - 1}.r * bg.c) // (100 * ow.wout)) AS contrib
         |  FROM bg JOIN r${i - 1} ON r${i - 1}.node = bg.w1
         |       JOIN ow ON ow.w1 = bg.w1 GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.w AS node,
         |    (15 * CAST(1000000000 AS BIGINT)) // (100 * nn.n)
         |      + coalesce(c$i.contrib, 0) AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.node = nodes.w)""".stripMargin
    }.mkString
    head + steps +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r$iters"
  }

  /** DuckDB replay of [[ops.Graph.kCore]] over the strong item
    * co-occurrence graph: the identical fixed-round peel unrolled — per
    * round one degree aggregate, a keep-list, and a two-sided semi-join.
    * Generated so every round is character-identical. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val head =
      """WITH ui AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS i
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e1 AS MATERIALIZED (
        |  SELECT a.i AS a, b.i AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 40)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s""",
         |d$r AS MATERIALIZED (
         |  SELECT n, count(*) AS d
         |  FROM (SELECT a AS n FROM e$r UNION ALL SELECT b AS n FROM e$r)
         |  GROUP BY n),
         |k$r AS (SELECT n FROM d$r WHERE d >= $k),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e$r e
         |  JOIN k$r ka ON ka.n = e.a JOIN k$r kb ON kb.n = e.b)""".stripMargin
    }.mkString
    head + steps +
      s"""
         |SELECT n AS node, CAST(d AS BIGINT) AS degree
         |FROM (SELECT n, count(*) AS d
         |      FROM (SELECT a AS n FROM e${rounds + 1}
         |            UNION ALL SELECT b AS n FROM e${rounds + 1})
         |      GROUP BY n)""".stripMargin
  }

  /** DuckDB replay of [[ops.Graph.bfsDistances]] over the strong item
    * co-occurrence graph: the level-synchronous expansion unrolled — per
    * hop one join of the symmetrized edge set against the previous
    * frontier minus everything already settled (the q_pagerank unrolled-
    * recursion pattern; a fixed maxHops keeps it exact without a
    * recursive CTE). */
  private def bfsOracle(maxHops: Int): String = {
    val head =
      """WITH ui AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS i
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e1 AS MATERIALIZED (
        |  SELECT a.i AS a, b.i AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 40),
        |und AS MATERIALIZED (SELECT a, b FROM e1 UNION SELECT b, a FROM e1),
        |f0 AS MATERIALIZED (
        |  SELECT DISTINCT a AS id FROM und WHERE a % 10 = 3)""".stripMargin
    val steps = (1 to maxHops).map { h =>
      val prevs = (0 until h).map(i => s"SELECT id FROM f$i").mkString(" UNION ")
      s""",
         |f$h AS MATERIALIZED (
         |  SELECT DISTINCT und.b AS id
         |  FROM und JOIN f${h - 1} ON und.a = f${h - 1}.id
         |  WHERE und.b NOT IN ($prevs))""".stripMargin
    }.mkString
    val sel = (0 to maxHops)
      .map(h => s"SELECT id, $h AS dist FROM f$h").mkString(" UNION ALL ")
    head + steps + "\n" + sel
  }

  /** DuckDB replay of [[ops.Graph.lpaCommunities]] over the strong item
    * co-occurrence graph: the fixed-round synchronous propagation
    * unrolled — per round one label join + (node, label) count + argmax
    * window with the identical (count DESC, label ASC) tie-break.
    * Generated so every round is character-identical (the q_pagerank
    * unrolled-recursion pattern). */
  private def lpaOracle(rounds: Int): String = {
    val head =
      """WITH ui AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS i
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e1 AS MATERIALIZED (
        |  SELECT a.i AS a, b.i AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 40),
        |und AS MATERIALIZED (SELECT a, b FROM e1 UNION SELECT b, a FROM e1),
        |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM und)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s""",
         |c$r AS (
         |  SELECT und.a AS node, l.lab AS lab, count(*) AS c
         |  FROM und JOIN l${r - 1} l ON l.node = und.b
         |  GROUP BY 1, 2),
         |l$r AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
         |    FROM c$r) WHERE rn = 1)""".stripMargin
    }.mkString
    head + steps + s"\nSELECT node, lab AS community FROM l$rounds"
  }

  /** DuckDB replay of [[ops.Spectral.dominantProjection]]: the exact
    * integer Gram matrix, then the identical power-iteration trajectory
    * unrolled — per step one matrix-vector join-aggregate, max-abs
    * normalization with the same remainder-based round-half-away, and
    * the same sign convention — then the per-row projection join.
    * Generated so every step's arithmetic is character-identical. */
  private def powerIterOracle(iters: Int): String =
    powerIterCtes(iters) +
      s"""
         |SELECT q.vec_id,
         |  round(CAST(sum(CAST(qv[v.d + 1] AS HUGEINT) * v.val) AS DOUBLE)
         |    / 1000000000000.0, 6) AS proj
         |FROM q, v$iters v
         |GROUP BY q.vec_id""".stripMargin

  /** DuckDB replay of [[ops.Spectral.removeDominant]] on top of the
    * [[powerIterCtes]] trajectory: the identical exact-integer rejection
    * c_i = q_i − roundHalfAway(dot·v_i / ‖v‖²) in HUGEINT, reduced to
    * three per-row fingerprints (first coordinate, coordinate sum,
    * exact squared norm) so the compare needs no array hashing. */
  private def abttOracle(iters: Int): String =
    powerIterCtes(iters) +
      s""",
         |vv AS (SELECT CAST(sum(val * val) AS HUGEINT) AS n2 FROM v$iters),
         |dq AS (
         |  SELECT q.vec_id, q.qv,
         |    sum(CAST(qv[v.d + 1] AS HUGEINT) * v.val) AS dot
         |  FROM q, v$iters v GROUP BY q.vec_id, q.qv),
         |corr AS (
         |  SELECT d.vec_id, v.d AS dim,
         |    CAST(qv[v.d + 1] AS HUGEINT)
         |      - (CASE WHEN d.dot * v.val < 0 THEN -1 ELSE 1 END)
         |        * ((abs(d.dot * v.val) // vv.n2)
         |           + CASE WHEN (abs(d.dot * v.val) % vv.n2) * 2 >= vv.n2
         |                  THEN 1 ELSE 0 END) AS c
         |  FROM dq d, v$iters v, vv)
         |SELECT vec_id,
         |  CAST(sum(CASE WHEN dim = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
         |  CAST(sum(c) AS BIGINT) AS c_sum,
         |  CAST(sum(c * c) AS BIGINT) AS c_norm2
         |FROM corr GROUP BY vec_id""".stripMargin

  private def powerIterCtes(iters: Int): String = {
    val head =
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |g AS MATERIALIZED (
        |  SELECT u.i - 1 AS i, w.j - 1 AS j,
        |    sum(CAST(qv[u.i] AS HUGEINT) * qv[w.j]) AS g
        |  FROM q, unnest(range(1, len(qv) + 1)) u(i),
        |       unnest(range(1, len(qv) + 1)) w(j)
        |  GROUP BY 1, 2),
        |d0 AS (SELECT i AS d FROM g WHERE i = j ORDER BY g DESC, i LIMIT 1),
        |v0 AS MATERIALIZED (
        |  SELECT u.i AS d,
        |    CASE WHEN u.i = (SELECT d FROM d0)
        |         THEN CAST(1000000 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS val
        |  FROM unnest(range(0, 64)) u(i))""".stripMargin
    val steps = (1 to iters).map { r =>
      s""",
         |w$r AS (
         |  SELECT g.i AS d, sum(g.g * v.val) AS w
         |  FROM g JOIN v${r - 1} v ON v.d = g.j GROUP BY 1),
         |m$r AS (SELECT max(abs(w)) AS m FROM w$r),
         |u$r AS (
         |  SELECT d, w,
         |    ((abs(w) * 1000000) // m)
         |      + CASE WHEN ((abs(w) * 1000000) % m) * 2 >= m THEN 1 ELSE 0 END AS uu
         |  FROM w$r, m$r),
         |s$r AS (SELECT d, CASE WHEN w < 0 THEN -uu ELSE uu END AS val FROM u$r),
         |dm$r AS (SELECT d FROM s$r ORDER BY abs(val) DESC, d LIMIT 1),
         |f$r AS (
         |  SELECT CASE WHEN (SELECT val FROM s$r WHERE d = (SELECT d FROM dm$r)) < 0
         |         THEN -1 ELSE 1 END AS f),
         |v$r AS MATERIALIZED (SELECT d, val * f AS val FROM s$r, f$r)""".stripMargin
    }.mkString
    head + steps
  }

  /** DuckDB replay of [[ops.TextAnalysis.bpeMerges]]: the identical
    * merge loop unrolled — per step one pair-count aggregate over the
    * double-space symbol encoding, a (count DESC, lexicographic) top-1,
    * and the same single `replace` that performs the greedy merge.
    * Generated so every step's arithmetic is character-identical. */
  private def bpeTrainChain(nMerges: Int): String = {
    val head =
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> t <> '') AS tk
        |  FROM documents),
        |wc AS MATERIALIZED (
        |  SELECT w, count(*) AS cnt
        |  FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY w),
        |s0 AS MATERIALIZED (
        |  SELECT ' ' || array_to_string(string_split_regex(w, ''), '  ') || ' '
        |    AS s, cnt
        |  FROM wc)""".stripMargin
    val steps = (1 to nMerges).map { i =>
      s""",
         |p$i AS (
         |  SELECT sym[j+1] AS left_sym, sym[j+2] AS right_sym, sum(cnt) AS c
         |  FROM (SELECT string_split(trim(s), '  ') AS sym, cnt FROM s${i - 1}) x,
         |       unnest(range(0, len(sym)-1)) u(j)
         |  GROUP BY 1, 2),
         |t$i AS (
         |  SELECT left_sym, right_sym, c FROM p$i
         |  ORDER BY c DESC, left_sym, right_sym LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT replace(s, ' ' || left_sym || '  ' || right_sym || ' ',
         |                 ' ' || left_sym || right_sym || ' ') AS s, cnt
         |  FROM s${i - 1} CROSS JOIN t$i)""".stripMargin
    }.mkString
    head + steps
  }

  private def bpeOracle(nMerges: Int): String = {
    val out = (1 to nMerges)
      .map(i => s"SELECT $i AS step, left_sym, right_sym, " +
        s"CAST(c AS BIGINT) AS pair_count FROM t$i")
      .mkString("\n", "\nUNION ALL\n", "")
    bpeTrainChain(nMerges) + out
  }

  /** DuckDB replay of train→ENCODE ([[graft.functions.BpeCodec.encode]]):
    * the learned merge table t1..tN comes from the identical unrolled
    * train chain, then each DISTINCT word encodes through the SAME
    * per-step `replace` the trainer applies to its vocabulary — one
    * replace per learned merge, in learned order — and per-document
    * subword sequences reassemble by joining words back in position
    * order. Character-identical arithmetic on both sides: the Spark
    * kernel's array scan was derived from (and unit-pinned to) the
    * double-space replace semantics. */
  /** The train chain plus the per-distinct-word encode chain, ending at a
    * `perdoc(doc_id, syms)` CTE — shared by [[bpeEncodeOracle]] and the
    * budget-composition oracle. */
  private def bpeEncodeChain(nMerges: Int): String = {
    val enc = (1 to nMerges).map { i =>
      s""",
         |e$i AS MATERIALIZED (
         |  SELECT w, replace(s, ' ' || left_sym || '  ' || right_sym || ' ',
         |                    ' ' || left_sym || right_sym || ' ') AS s
         |  FROM e${i - 1} CROSS JOIN t$i)""".stripMargin
    }.mkString
    bpeTrainChain(nMerges) +
      s""",
         |tokd AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    t -> t <> '') AS tk
         |  FROM documents),
         |wrds AS (
         |  SELECT doc_id, i AS pos, tk[i+1] AS w
         |  FROM tokd, unnest(range(0, len(tk))) u(i)),
         |e0 AS MATERIALIZED (
         |  SELECT w, ' ' || array_to_string(string_split_regex(w, ''), '  ') || ' ' AS s
         |  FROM (SELECT DISTINCT w FROM wrds))$enc,
         |enc AS (
         |  SELECT w, string_split(trim(s), '  ') AS syms FROM e$nMerges),
         |perdoc AS (
         |  SELECT wr.doc_id, flatten(list(e.syms ORDER BY wr.pos)) AS syms
         |  FROM wrds wr JOIN enc e USING (w)
         |  GROUP BY wr.doc_id)""".stripMargin
  }

  private def bpeEncodeOracle(nMerges: Int): String =
    bpeEncodeChain(nMerges) +
      """
        |SELECT doc_id, CAST(len(syms) AS INT) AS n_sub,
        |  array_to_string(syms[1:10], ' ') AS sub_prefix,
        |  md5(array_to_string(syms, ' ')) AS sub_md5
        |FROM perdoc""".stripMargin

  /** Budget selection over the TOKENIZER's own token counts: the encode
    * chain's per-doc subword counts feed the same cumulative-window
    * definition q_token_budget uses. */
  private def bpeBudgetOracle(nMerges: Int, budget: Long): String =
    bpeEncodeChain(nMerges) +
      s""",
         |bs AS (
         |  SELECT p.doc_id, CAST(len(p.syms) AS BIGINT) AS n_tok,
         |    CAST(length(d.text) AS BIGINT) AS score
         |  FROM perdoc p JOIN documents d USING (doc_id)),
         |bc AS (
         |  SELECT doc_id, n_tok, score,
         |    sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum
         |  FROM bs)
         |SELECT doc_id, n_tok, score FROM bc WHERE cum <= $budget""".stripMargin

  /** Order-independent exact sum of a fixed-scale value: accumulate
    * round(x·10^s) in LONG, assemble in DECIMAL once per group, divide back
    * at the end. Equivalent to the DECIMAL(28,s) sum both engines previously
    * used (same half-up rounding at scale s) but ~5× cheaper in Spark — sum
    * over DecimalType(28,_) exceeds the 18-digit compact representation and
    * falls back to per-row java.math.BigDecimal (q1_agg: 1.45 s → 0.4 s at
    * sf0.1).
    *
    * Overflow safety: a single LONG sum of scale-6 values wraps SILENTLY
    * (non-ANSI) once a group's scaled sum exceeds 2^63 ≈ 9.2e18 — for
    * TPC-H-q1-shaped groups that is roughly sf ≥ 100. So the scaled value
    * is split per row into floor(x/2^18) and x mod 2^18 (exact for all
    * signs: arithmetic shift + unsigned low bits), each summed in LONG —
    * per-row work stays codegen'd long arithmetic — and reassembled as
    * Σ = 2^18·Σhi + Σlo in DECIMAL(38,0), once per GROUP. The binding
    * bound is on the COMPONENT sums, not the reassembled value: Σlo wraps
    * at 2^63/2^18 = 2^45 rows per group, Σhi (per-row |hi| ≈ scaled/2^18 ≈
    * 2^17 for ~1e10-scaled money) at a similar ~2^45 — so exact to ~3.5e13
    * rows in ONE group, i.e. TPC-H q1 at sf ~10⁷. (The earlier split at
    * 2^30 bound Σlo at only 2^33 rows ≈ sf 5700 — the shift point must
    * balance the two component bounds.) DECIMAL(38)→double uses the same
    * round-half-even as DuckDB's exact HUGEINT sum→double, so oracle
    * hashes still match. */
  /** Round half-away-from-zero in plain double arithmetic. Spark's round()
    * allocates a BigDecimal PER ROW (measured ≈2× the whole aggregation
    * cost of q1_agg). The naive floor(x+0.5) is NOT C round: within 1 ulp
    * below a .5 boundary the +0.5 addition itself rounds up across the
    * integer (e.g. x = 0.49999999999999994 → floor(x+0.5) = 1, C round = 0).
    * Comparing the exact fractional part instead has no such hazard:
    * x − floor(x) is exact in IEEE double (result magnitude < 1, exponents
    * adjacent), so this matches DuckDB round()'s C half-away semantics for
    * every finite double — for |x| ≥ 2^52 doubles are integral and the
    * fraction is 0. */
  private[graft] def roundAway(c: Column): Column = {
    def pos(x: Column): Column =
      floor(x) + when(x - floor(x) >= lit(0.5), lit(1.0)).otherwise(lit(0.0))
    when(c >= 0, pos(c)).otherwise(-pos(-c))
  }

  private def decSum(c: Column, scale: Int = 2): Column = {
    val f = math.pow(10, scale)
    val scaled = roundAway(c * f).cast("long")
    if (scale < 6) {
      // scale ≤ 5: the plain LONG sum's 2^63 bound needs ~10^11 rows in ONE
      // group of ~10^5-valued money — unreachable; skip the split's extra agg
      sum(scaled).cast("double") / f
    } else {
      val hi = sum(shiftright(scaled, 18))
      val lo = sum(scaled.bitwiseAND(lit((1L << 18) - 1)))
      (hi.cast(DecimalType(38, 0)) * lit(1L << 18) + lo).cast("double") / f
    }
  }

  /** Array column → CSV of scaled-integer elements. The driver's checker
    * (pandas sort + hash) can't handle raw array cells, and float→string
    * formatting differs between JVM and DuckDB — integer strings are the
    * only representation both engines agree on bit-for-bit. */
  private def arrCsv(c: Column, scale: Long): Column =
    concat_ws(",", transform(c,
      x => roundAway(x.cast("double") * scale).cast("long").cast("string")))

  /** q_lr_quality oracle codegen: `iters` unrolled gradient-descent
    * iterations as chained 1-row weight CTEs — each iteration cross-joins
    * the constant weight row into the feature table, computes the
    * sigmoid with the SAME left-associated z as [[graft.ops.Learn]], and
    * micro-quantizes the update (round half away from zero at 6
    * decimals, both engines' round()), so the whole optimization
    * trajectory replays exactly. */
  private def lrIterCtes(iters: Int, lr: Double): String =
    (1 to iters).map { i =>
      s"""w$i AS (
         |  SELECT
         |    round((max(wb) - $lr * sum((p - y) * fb) / count(*)) * 1000000) / 1000000.0 AS wb,
         |    round((max(w1) - $lr * sum((p - y) * fdr) / count(*)) * 1000000) / 1000000.0 AS w1,
         |    round((max(w2) - $lr * sum((p - y) * fsr) / count(*)) * 1000000) / 1000000.0 AS w2,
         |    round((max(w3) - $lr * sum((p - y) * fms) / count(*)) * 1000000) / 1000000.0 AS w3
         |  FROM (SELECT f.*, w.wb, w.w1, w.w2, w.w3,
         |      1.0 / (1.0 + exp(-((((f.fb * w.wb) + f.fdr * w.w1) + f.fsr * w.w2) + f.fms * w.w3))) AS p
         |    FROM feats f, w${i - 1} w))""".stripMargin
    }.mkString(",\n")

  /** q_unigram_tok oracle codegen: the whole SentencePiece-style unigram
    * trajectory unrolled (the [[lrIterCtes]] stance). Per EM iteration —
    * and once more for the final pruned pass — it emits:
    *
    *  - `ughlpX`: piece-at-position hits joined to the CURRENT log-probs;
    *  - `ugdpX`: the Viterbi DP as a RECURSIVE carry-window CTE. A
    *    recursive term only sees the previous step's rows, but dp(j)
    *    needs dp(j+1..j+4) — so each row carries the 4-slot window
    *    (d0..d3) and steps j one position left per iteration. All sums
    *    are exact BIGINT micro units; unreachable = the −1e15 sentinel
    *    (a real dp is ≥ −(word len)·max|lp| ≈ −3e8, six orders above the
    *    −1e14 validity threshold);
    *  - `ugchX`: the deterministic choice — at each position the SMALLEST
    *    piece length whose lp + dp(next) EQUALS dp(here), an integer
    *    identity both engines evaluate identically;
    *  - `ugsgX`: the left-to-right reconstruction walk emitting pieces.
    *
    * Between iterations the M-step re-estimates lp = round(ln((c+1)/(C+V))
    * ·1e6) — the only doubles in the pipeline, micro-rounded (the
    * repo-wide probabilistic ln stance). The prune drops zero/below-
    * threshold multi-char pieces with log-probs UNCHANGED. */
  private def unigramOracle(vocabSize: Int, iters: Int,
                            maxLen: Int = 4, minCount: Long = 1L): String =
    unigramChain(vocabSize, iters, maxLen, minCount) +
      s"""
         |SELECT o.doc_id, CAST(sum(ws.np) AS BIGINT) AS n_pieces,
         |  round(CAST(sum(ws.slp) AS DOUBLE) / 1000000.0, 6) AS tok_logprob
         |FROM ugocc o JOIN ugwst ws ON ws.w = o.w
         |GROUP BY o.doc_id""".stripMargin

  /** The tokenizer-lifecycle composition oracle: the [[unigramChain]]
    * trajectory, per-doc PIECE counts as the budget's token column, and
    * the same cumulative cut the q_bpe_budget oracle restates —
    * pretraining selection counts the tokens the TRAINED tokenizer will
    * actually produce. */
  private def unigramBudgetOracle(vocabSize: Int, iters: Int,
                                  budget: Long): String =
    unigramChain(vocabSize, iters) +
      s""",
         |ubs AS (
         |  SELECT o.doc_id, CAST(sum(ws.np) AS BIGINT) AS n_tok
         |  FROM ugocc o JOIN ugwst ws ON ws.w = o.w GROUP BY o.doc_id),
         |ub2 AS (
         |  SELECT b.doc_id, b.n_tok, CAST(length(d.text) AS BIGINT) AS score
         |  FROM ubs b JOIN documents d USING (doc_id)),
         |ubc AS (
         |  SELECT doc_id, n_tok, score,
         |    sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum
         |  FROM ub2)
         |SELECT doc_id, n_tok, score FROM ubc WHERE cum <= $budget""".stripMargin

  // Shared unigram-oracle sentinel arithmetic: unreachable = −1e15 micro,
  // valid = > −1e14 (10 % of the sentinel). A real dp/α/β cell is ≥
  // −(word len)·max|lp| ≈ −3e8 for any plausible token, six orders above
  // the threshold; the engines' thresholds would only disagree on a
  // single whitespace-free token of ~5e6+ characters, excluded by the
  // BMP tokenizer corpus contract (ADVICE r19 — documented bound). The
  // SOFT chain's α/β cells cross engines by VALUE (they enter the
  // posteriors), so graft.functions.UnigramLattice uses these same two
  // constants verbatim.
  private val UgSent = "-1000000000000000"
  private val UgThr = "-100000000000000"

  /** One Viterbi DP + deterministic-choice + reconstruction-walk block
    * over log-prob CTE `lpCte` (see [[unigramOracle]] for the recursive
    * carry-window construction) — shared by the hard-EM and soft-EM
    * chains, whose FINAL segmentation pass is identical. */
  private def ugDpBlock(x: String, lpCte: String, maxLen: Int): String = {
    val SENT = UgSent
    val THR = UgThr
    locally {
      val joins = (1 to maxLen).map { l =>
        s"  LEFT JOIN ughlp$x h$l ON h$l.w = p.w AND h$l.i = p.j - 1 AND h$l.l = $l"
      }.mkString("\n")
      val cands = (1 to maxLen).map { l =>
        s"      coalesce(h$l.lp + CASE WHEN p.d${l - 1} > $THR THEN p.d${l - 1} END, $SENT)"
      }.mkString(",\n")
      s"""ughlp$x AS MATERIALIZED (
         |  SELECT h.w, h.i, h.l, m.lp FROM ughit h JOIN $lpCte m ON m.p = h.p),
         |ugdp$x(w, j, d0, d1, d2, d3) AS (
         |  SELECT w, length(w) + 1, CAST(0 AS BIGINT),
         |    CAST($SENT AS BIGINT), CAST($SENT AS BIGINT), CAST($SENT AS BIGINT)
         |  FROM ugwc
         |  UNION ALL
         |  SELECT p.w, p.j - 1,
         |    greatest(
         |$cands),
         |    p.d0, p.d1, p.d2
         |  FROM ugdp$x p
         |$joins
         |  WHERE p.j > 1),
         |ugdv$x AS MATERIALIZED (SELECT w, j, d0 AS d FROM ugdp$x),
         |ugch$x AS MATERIALIZED (
         |  SELECT h.w, h.i AS j, min(h.l) AS l
         |  FROM ughlp$x h
         |  JOIN ugdv$x dj ON dj.w = h.w AND dj.j = h.i
         |  JOIN ugdv$x dn ON dn.w = h.w AND dn.j = h.i + h.l
         |  WHERE dj.d > $THR AND dn.d > $THR AND h.lp + dn.d = dj.d
         |  GROUP BY h.w, h.i),
         |ugsg$x(w, j, p, lp) AS (
         |  SELECT w, CAST(1 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
         |  FROM ugwc
         |  UNION ALL
         |  SELECT s.w, s.j + c.l, substr(s.w, CAST(s.j AS INT), CAST(c.l AS INT)), h.lp
         |  FROM ugsg$x s
         |  JOIN ugch$x c ON c.w = s.w AND c.j = s.j
         |  JOIN ughlp$x h ON h.w = s.w AND h.i = s.j AND h.l = c.l)""".stripMargin
    }
  }

  /** Shared unigram-oracle HEAD: corpus → word counts → seed vocabulary
    * (all single chars + top-`vocabSize` multi-char substrings) → seed
    * log-probs → the piece-at-position hit table. Identical for the
    * hard-EM and soft-EM chains — only the E-step blocks differ. */
  private def ugHeader(vocabSize: Int, maxLen: Int): String =
    s"""WITH RECURSIVE tkug AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk
       |  FROM documents WHERE text IS NOT NULL),
       |ugocc AS MATERIALIZED (SELECT doc_id, unnest(tk) AS w FROM tkug),
       |ugwc AS MATERIALIZED (SELECT w, count(*) AS f FROM ugocc GROUP BY w),
       |ugcand AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS p, sum(f) AS cnt
       |  FROM ugwc,
       |    unnest(range(1, length(w) + 1)) u(i),
       |    unnest(range(1, ${maxLen + 1})) v(l)
       |  WHERE i + l - 1 <= length(w)
       |  GROUP BY 1),
       |ugsing AS MATERIALIZED (SELECT p, cnt FROM ugcand WHERE length(p) = 1),
       |ugmult AS MATERIALIZED (SELECT p, cnt FROM ugcand WHERE length(p) > 1
       |           ORDER BY cnt DESC, p LIMIT $vocabSize),
       |ugvoc AS MATERIALIZED (SELECT p, cnt FROM ugsing UNION ALL SELECT p, cnt FROM ugmult),
       |ugvn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS vn FROM ugvoc),
       |ugtot0 AS MATERIALIZED (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM ugvoc),
       |uglp0 AS MATERIALIZED (
       |  SELECT p, CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000.0) AS BIGINT) AS lp
       |  FROM ugvoc, ugtot0),
       |ughit AS MATERIALIZED (
       |  SELECT wv.w, CAST(i AS BIGINT) AS i, CAST(l AS BIGINT) AS l,
       |    substr(wv.w, CAST(i AS INT), CAST(l AS INT)) AS p
       |  FROM ugwc wv,
       |    unnest(range(1, length(wv.w) + 1)) u(i),
       |    unnest(range(1, ${maxLen + 1})) v(l)
       |  WHERE i + l - 1 <= length(wv.w)
       |    AND substr(wv.w, CAST(i AS INT), CAST(l AS INT)) IN (SELECT p FROM ugvoc))""".stripMargin

  private def unigramChain(vocabSize: Int, iters: Int,
                           maxLen: Int = 4, minCount: Long = 1L): String = {
    val emBlocks = (1 to iters).map { t =>
      s"""${ugDpBlock(t.toString, s"uglp${t - 1}", maxLen)},
         |ugcnt$t AS MATERIALIZED (
         |  SELECT sg.p, sum(wv.f) AS c FROM ugsg$t sg JOIN ugwc wv ON wv.w = sg.w
         |  WHERE sg.p IS NOT NULL GROUP BY sg.p),
         |ugct$t AS MATERIALIZED (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS ct FROM ugcnt$t),
         |uglp$t AS MATERIALIZED (
         |  SELECT v.p, CAST(round(ln((CAST(coalesce(c.c, 0) AS DOUBLE) + 1.0)
         |      / (ct + vn)) * 1000000.0) AS BIGINT) AS lp
         |  FROM ugvoc v LEFT JOIN ugcnt$t c ON c.p = v.p, ugct$t, ugvn)""".stripMargin
    }.mkString(",\n")
    s"""${ugHeader(vocabSize, maxLen)},
       |$emBlocks,
       |ugflp AS MATERIALIZED (
       |  SELECT l.p, l.lp FROM uglp$iters l
       |  LEFT JOIN ugcnt$iters c ON c.p = l.p
       |  WHERE length(l.p) = 1 OR coalesce(c.c, 0) >= $minCount),
       |${ugDpBlock("F", "ugflp", maxLen)},
       |ugwst AS MATERIALIZED (
       |  SELECT w, count(*) AS np, sum(lp) AS slp FROM ugsgF
       |  WHERE p IS NOT NULL GROUP BY w)""".stripMargin
  }

  /** One SOFT-EM iteration's oracle blocks (q_unigram_em; Kudo 2018's
    * forward–backward E-step — r19 verdict item 4). Emits, over the
    * current log-probs `uglp{t-1}`:
    *
    *  - `ugfaX`: the FORWARD α DP as a recursive carry-window CTE
    *    marching LEFT-TO-RIGHT (α(1)=0, row carries the last maxLen
    *    cells). Every cell is the shared micro-LONG LOG-SUM-EXP
    *    contract: m = greatest over EXACTLY maxLen candidate slots in
    *    ascending piece length (missing/invalid → the −1e15 sentinel),
    *    cell = m + round(ln(Σ exp((cᵢ−m)/1e6))·1e6) with the Σ left-
    *    associated in slot order — the IDENTICAL arithmetic
    *    graft.functions.UnigramLattice.expectations runs, so cells agree
    *    integer-for-integer (engine exp/ln differences live below the
    *    per-cell rounding; sentinel slots underflow to exactly 0.0
    *    whenever any real candidate exists, and an all-sentinel cell
    *    lands at sentinel + ln(maxLen)·1e6, still far under the −1e14
    *    validity threshold);
    *  - `ugbdX`: the BACKWARD β DP — the ugdp carry-window shape with
    *    logsumexp in place of greatest;
    *  - `ugpostX`: per-hit posterior mass round(exp((α(i)+lp+β(i+l)−Z)
    *    /1e6)·1e6) as BIGINT micro units (exact-integer exponent
    *    arithmetic inside the cast);
    *  - `ugcntX`/`uglpX`: frequency-weighted EXACT-INTEGER expected-count
    *    sums and the micro-rounded re-estimate ln((c/1e6+1)/(C/1e6+V)).
    */
  private def ugSoftEmBlock(t: Int, maxLen: Int): String = {
    val SENT = UgSent
    val THR = UgThr
    val cNames = (1 to maxLen).map(l => s"c$l")
    val lse = "m + CAST(round(ln(" +
      cNames.map(c => s"exp(CAST($c - m AS DOUBLE) / 1000000.0)")
        .mkString(" + ") + ") * 1000000.0) AS BIGINT)"
    val gr = s"greatest(${cNames.mkString(", ")})"
    val sentInit = (", CAST(" + SENT + " AS BIGINT)") * (maxLen - 1)
    def dp(name: String, carry: Char, init: String, step: String,
           joinPos: Int => String, guard: String): String = {
      val cols = (0 until maxLen).map(i => s"$carry$i").mkString(", ")
      val pCols = (0 until maxLen).map(i => s"p.$carry$i").mkString(", ")
      val carryFwd = (0 until maxLen - 1).map(i => s"$carry$i").mkString(", ")
      val cands = (1 to maxLen).map { l =>
        s"coalesce(h$l.lp + CASE WHEN p.$carry${l - 1} > $THR THEN p.$carry${l - 1} END, $SENT) AS c$l"
      }.mkString(",\n        ")
      val joins = (1 to maxLen).map { l =>
        s"      LEFT JOIN ughlp$t h$l ON h$l.w = p.w AND h$l.i = ${joinPos(l)} AND h$l.l = $l"
      }.mkString("\n")
      s"""$name$t(w, j, $cols) AS (
         |  SELECT w, $init, CAST(0 AS BIGINT)$sentInit
         |  FROM ugwc
         |  UNION ALL
         |  SELECT w, $step, $lse, $carryFwd
         |  FROM (
         |    SELECT q.*, $gr AS m FROM (
         |      SELECT p.w, p.j, $pCols,
         |        $cands
         |      FROM $name$t p
         |$joins
         |      WHERE $guard) q) r)""".stripMargin
    }
    s"""ughlp$t AS MATERIALIZED (
       |  SELECT h.w, h.i, h.l, h.p, m.lp FROM ughit h JOIN uglp${t - 1} m ON m.p = h.p),
       |${dp("ugfa", 'a', "CAST(1 AS BIGINT)", "j + 1",
              l => s"p.j + 1 - $l", "p.j <= length(p.w)")},
       |ugfav$t AS MATERIALIZED (SELECT w, j, a0 AS a FROM ugfa$t),
       |ugz$t AS MATERIALIZED (SELECT w, a AS z FROM ugfav$t WHERE j = length(w) + 1),
       |${dp("ugbd", 'b', "length(w) + 1", "j - 1",
              _ => "p.j - 1", "p.j > 1")},
       |ugbdv$t AS MATERIALIZED (SELECT w, j, b0 AS b FROM ugbd$t),
       |ugpost$t AS MATERIALIZED (
       |  SELECT h.w, h.p,
       |    CAST(round(exp(CAST(((a.a + h.lp) + b.b) - z.z AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT) AS pm
       |  FROM ughlp$t h
       |  JOIN ugfav$t a ON a.w = h.w AND a.j = h.i
       |  JOIN ugbdv$t b ON b.w = h.w AND b.j = h.i + h.l
       |  JOIN ugz$t z ON z.w = h.w
       |  WHERE a.a > $THR AND b.b > $THR AND z.z > $THR),
       |ugcnt$t AS MATERIALIZED (
       |  SELECT pp.p, sum(wv.f * pp.pm) AS c
       |  FROM ugpost$t pp JOIN ugwc wv ON wv.w = pp.w GROUP BY pp.p),
       |ugct$t AS MATERIALIZED (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS ct FROM ugcnt$t),
       |uglp$t AS MATERIALIZED (
       |  SELECT v.p, CAST(round(ln((CAST(coalesce(c.c, 0) AS DOUBLE) / 1000000.0 + 1.0)
       |      / (CAST(ct AS DOUBLE) / 1000000.0 + vn)) * 1000000.0) AS BIGINT) AS lp
       |  FROM ugvoc v LEFT JOIN ugcnt$t c ON c.p = v.p, ugct$t, ugvn)""".stripMargin
  }

  /** The full soft-EM chain: shared head, `iters` [[ugSoftEmBlock]]s, a
    * PRUNE-TO-TARGET (all singles + top-`keepMulti` multis by expected
    * count — the likelihood-loss proxy, log-probs unchanged, matching
    * [[ops.Unigram.unigramPruneToVocab]] ties and all), and the shared
    * final hard-Viterbi segmentation pass. */
  private def unigramSoftChain(vocabSize: Int, iters: Int,
                               maxLen: Int = 4, keepMulti: Int = 24): String = {
    val emBlocks = (1 to iters).map(t => ugSoftEmBlock(t, maxLen))
      .mkString(",\n")
    s"""${ugHeader(vocabSize, maxLen)},
       |$emBlocks,
       |ugsel AS MATERIALIZED (
       |  SELECT l.p, l.lp FROM uglp$iters l WHERE length(l.p) = 1
       |  UNION ALL
       |  SELECT p, lp FROM (
       |    SELECT l.p, l.lp, coalesce(c.c, 0) AS cc FROM uglp$iters l
       |    LEFT JOIN ugcnt$iters c ON c.p = l.p
       |    WHERE length(l.p) > 1
       |    ORDER BY cc DESC, l.p LIMIT $keepMulti)),
       |${ugDpBlock("F", "ugsel", maxLen)},
       |ugwst AS MATERIALIZED (
       |  SELECT w, count(*) AS np, sum(lp) AS slp FROM ugsgF
       |  WHERE p IS NOT NULL GROUP BY w)""".stripMargin
  }

  private def unigramSoftOracle(vocabSize: Int, iters: Int,
                                keepMulti: Int): String =
    unigramSoftChain(vocabSize, iters, keepMulti = keepMulti) +
      s"""
         |SELECT o.doc_id, CAST(sum(ws.np) AS BIGINT) AS n_pieces,
         |  round(CAST(sum(ws.slp) AS DOUBLE) / 1000000.0, 6) AS tok_logprob
         |FROM ugocc o JOIN ugwst ws ON ws.w = o.w
         |GROUP BY o.doc_id""".stripMargin

  /** q_simhash_neardup oracle codegen: 64 per-bit vote sums as flat SQL
    * columns (one vectorized aggregation pass in DuckDB) … */
  private val simhashVoteCols: String = (0 until 64)
    .map(j => s"    sum(o.cnt * ((hs >> $j) & 1))::BIGINT AS b$j")
    .mkString(",\n")

  /** … and the 64-term signed reassembly (bit 63 is the sign bit, matching
    * the Spark side's LONG simhash64). */
  private val simhashSimTerms: String = ((0 until 63)
    .map(j => s"CASE WHEN 2*b$j > n THEN ${1L << j} ELSE 0 END") :+
    "CASE WHEN 2*b63 > n THEN -9223372036854775808 ELSE 0 END")
    .mkString("\n   + ")

  /** DuckDB-safe FNV-1a-over-UTF-8 fold fragment — the list_reduce
    * replacement (DuckDB 1.0.0 mis-evaluates list_reduce on some
    * multi-row batch shapes; r4 q_funnel investigation). Emits CTEs
    * `{p}src … {p}` where the final `{p}(k, ch)` holds the HUGEINT hash of
    * `textExpr` per `keyExpr` row of `srcCte`. The enclosing WITH must be
    * RECURSIVE. Rows with empty text fold to the offset basis.
    *
    * Shape notes, each measured the hard way (64-byte chunks exceed DuckDB's 128 expression-binder depth — 32 is the practical max):
    *  - FULL 32-byte chunks recurse with a BRANCH-FREE unrolled chain.
    *    DuckDB implements lateral column aliases by SUBSTITUTION, so a
    *    guarded step (`CASE … THEN f(prev) ELSE prev END`) that references
    *    the previous alias twice doubles the expression tree per step —
    *    2^32 nodes at 32 steps (the first 32-byte attempt never finished
    *    at sf0.01). Branch-free steps reference `prev` once → linear.
    *  - The ≤31-byte TAIL recurses one byte per iteration (also
    *    branch-free); its per-doc row count is bounded by 31.
    *  - The chunk/tail tables are MATERIALIZED: DuckDB inlines plain CTEs,
    *    so the recursive arm would otherwise re-derive the whole
    *    hex→bytes→chunks pipeline on EVERY iteration (measured 6.6× on
    *    q_fingerprint).
    * Validated against a Python FNV reference at sf0.01/0.1. */
  private def fnvFoldCtes(p: String, srcCte: String, keyExpr: String,
                          textExpr: String): String = {
    val P = "1099511628211::HUGEINT"
    val M = "18446744073709551616::HUGEINT"
    val chunkBytes = 32
    val steps = (1 to chunkBytes).map { j =>
      val prev = if (j == 1) "f.acc" else s"s${j - 1}"
      s"(xor($prev, c.ck[$j]::HUGEINT) * $P) % $M AS s$j"
    }.mkString(",\n      ")
    s"""${p}src AS (SELECT $keyExpr AS k, $textExpr AS t FROM $srcCte),
       |${p}hx AS (
       |  SELECT k, hex(encode(t)) AS hx, octet_length(encode(t)) AS nb
       |  FROM ${p}src),
       |${p}bytes AS (
       |  SELECT k, nb, nb // $chunkBytes AS nf,
       |    [ (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)*16
       |      + strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1
       |      for i in range(1, nb + 1) ] AS bs
       |  FROM ${p}hx),
       |${p}cidx AS (
       |  SELECT k, bs, unnest([ i for i in range(1, nf + 1) ]) AS ci
       |  FROM ${p}bytes WHERE nf > 0),
       |${p}chunks AS MATERIALIZED (
       |  SELECT k, ci, bs[(ci-1)*$chunkBytes+1 : ci*$chunkBytes] AS ck FROM ${p}cidx),
       |${p}f AS (
       |  SELECT k, 0 AS ci, 14695981039346656037::HUGEINT AS acc FROM ${p}bytes
       |  UNION ALL
       |  SELECT k, ci, s$chunkBytes FROM (
       |    SELECT f.k, f.ci + 1 AS ci,
       |      $steps
       |    FROM ${p}f f JOIN ${p}chunks c ON c.k = f.k AND c.ci = f.ci + 1)),
       |${p}chash AS (
       |  SELECT k, acc FROM ${p}f
       |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY ci DESC) = 1),
       |${p}tidx AS (
       |  SELECT k, nf, bs,
       |    unnest([ i for i in range(1, nb - nf * $chunkBytes + 1) ]) AS ti
       |  FROM ${p}bytes WHERE nb > nf * $chunkBytes),
       |${p}tailb AS MATERIALIZED (
       |  SELECT k, ti, bs[nf * $chunkBytes + ti]::HUGEINT AS tb FROM ${p}tidx),
       |${p}tf AS (
       |  SELECT k, 0 AS ti, acc FROM ${p}chash
       |  UNION ALL
       |  SELECT f.k, f.ti + 1, (xor(f.acc, t.tb) * $P) % $M
       |  FROM ${p}tf f JOIN ${p}tailb t ON t.k = f.k AND t.ti = f.ti + 1),
       |$p AS (
       |  SELECT k, acc AS ch FROM ${p}tf
       |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY ti DESC) = 1)""".stripMargin
  }

  /** Constant-8-byte FNV fold, fully unrolled (no list_reduce, no guards —
    * every window is exactly 8 bytes): the winnowing 8-gram hash. `bs` and
    * `i` are free variables of the enclosing list comprehension. */
  private val fnv8Unrolled: String = {
    val P = "1099511628211::HUGEINT"
    val M = "18446744073709551616::HUGEINT"
    (0 until 8).foldLeft("14695981039346656037::HUGEINT") { (acc, j) =>
      s"(xor($acc, bs[i+$j]::HUGEINT) * $P) % $M"
    }
  }

  /** q_fix_encoding's injected suffix pair: [[FixEncMojiSfx]] is
    * [[FixEncCleanSfx]] ("… café ’tis") after a UTF-8 encode mis-decoded
    * as cp1252 — é (C3 A9) → "Ã©", ’ (E2 80 99) → "â€™" (80/99 shown as
    * €/™ through cp1252). Spark repairs the damage live; the oracle
    * states the clean form directly. U+2019 (not the ASCII apostrophe)
    * keeps the SQL literal quote-safe. */
  private val FixEncCleanSfx = " caf\u00E9 \u2019tis"
  private val FixEncMojiSfx = " caf\u00C3\u00A9 \u00E2\u20AC\u2122tis"

  /** q_fix_encoding_lines' HONEST-Latin-1 line: \u00E0/\u00E9 are real accents, not
    * mojibake \u2014 as bytes-as-chars the 0xE0 lead is followed by 0x20
    * (space), failing the RFC-3629 shape, so the line must pass through
    * every repair pass verbatim. Inside one doc next to [[FixEncMojiSfx]]
    * it is exactly the mix the DOC-grain gate provably cannot repair
    * (the honest accent poisons the whole-doc UTF-8-shape check) while
    * the LINE grain can. */
  private val FixEncHonestLine = "voil\u00E0 caf\u00E9"

  /** Per-dataset index-build artifacts (ANN quantizer, probe vectors):
    * bounded driver-side lookups that a deployment builds once and reuses
    * across every probe, memoized here so repeated query runs measure the
    * probe path rather than re-running index construction. */
  private val artifactCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def indexArtifact[T <: AnyRef](key: String)(build: => T): T =
    artifactCache.computeIfAbsent(key, _ => build).asInstanceOf[T]

  /** Deterministic per-dataset model-artifact dir (r18 verdict item 3 —
    * the KenLM persistence discipline across the trained-model family):
    * the model frame is written to parquet and RELOADED inside the query
    * itself, so the driver's hash gate proves the persisted artifact
    * scores identically to the lazy plan, not just that one composed plan
    * is right. Models are bounded (≤ a few thousand rows) so the write is
    * constant-time at any corpus scale; in production this is the real
    * model table path. */
  private def modelRoundTrip(s: SparkSession, name: String, d: String,
                             model: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // train + persist ONCE per (model, dataset) — the ivf-centroids
    // memoization stance extended to the trained-model family: a real
    // pipeline trains once and scores many runs, so repeated query runs
    // measure the SCORE path against the reloaded artifact, not a
    // retrain; the first run (and every Verify run in a fresh JVM) still
    // exercises the full write + reload, which is what the hash gate
    // proves. Only the PATH is memoized — the DataFrame is re-read per
    // call so no session-bound plan leaks across sessions.
    val path = indexArtifact(s"model:$name:$d") {
      val p = "/tmp/graft-models/" +
        d.replaceAll("[^A-Za-z0-9._-]", "_") + "/" + name
      model.write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Month-partitioned orders layout for a dataset dir — written once per
    * dataset via [[ops.Bucketing.writePartitioned]] (a layout artifact,
    * like the ANN quantizers) and read back for the dynamic-partition-
    * pruning probe. The path is deterministic per dataset so repeated
    * sessions in one JVM reuse the directory. */
  private def ordersByMonthLayout(s: SparkSession, d: String): String =
    indexArtifact(s"dpp-orders-layout:$d") {
      val path = "/tmp/graft-layout/" +
        d.replaceAll("[^A-Za-z0-9._-]", "_") + "/orders_by_month"
      ops.Bucketing.writePartitioned(
        Tables.orders(s, d).withColumn("o_month",
          date_format(col("o_orderdate"), "yyyy-MM")),
        path, "o_month")
      path
    }

  /** The ANN probe vector (vec_id 0's embedding) for a dataset dir. */
  private def probeVector(s: SparkSession, d: String): Array[Float] =
    indexArtifact(s"probe:$d") {
      Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
    }

  /** Bounded 256-row training sample shared by every ANN index build (IVF
    * quantizer, PQ codebooks) — one collect per dataset, not one per
    * artifact. */
  private def sampleVectors(s: SparkSession, d: String): Array[Array[Float]] =
    indexArtifact(s"sample:$d") {
      Tables.embeddings(s, d).select("embedding").limit(256).collect()
        .map(_.getSeq[Float](0).toArray)
    }

  /** The one DuckDB oracle all three ANN probes (IVF / LSH / PQ) share —
    * single definition so a precision tweak cannot desynchronize them. */
  private val annOracleSql: String =
    """WITH probe AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |sims AS (
      |  SELECT vec_id,
      |    round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS sim
      |  FROM embeddings, probe)
      |SELECT CAST(1 AS BOOLEAN) AS n_in_bounds,
      |  vec_id AS top1_id, sim AS top1_score,
      |  CAST(1 AS BOOLEAN) AS scores_exact
      |FROM sims ORDER BY sim DESC, vec_id LIMIT 1""".stripMargin

  /** DuckDB replay of [[ops.Knn.kmeansFit]] (k, `iters` unrolled Lloyd
    * iterations on the 10⁻⁶ integer grid: k-smallest-id init, exact
    * integer argmin with smaller-cid ties, remainder-based
    * round-half-away means, empty-cell carry) followed by
    * [[ops.Knn.kmeansAssign]] serve-time assignment and the SemDeDup
    * within-cell pair stage — the trainer's whole trajectory is
    * bit-reproducible, so the emitted PAIR SET is an exact cross-engine
    * oracle, not a contract. */
  private def kmeansSemdedupOracle(k: Int, iters: Int, threshold: String): String = {
    val head =
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cv
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $k))""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |a$i AS MATERIALIZED (
         |  SELECT vec_id, qv,
         |    (SELECT c.cid FROM c${i - 1} c
         |     ORDER BY list_sum(list_transform(range(1, len(qv) + 1),
         |       j -> (qv[j] - c.cv[j]) * (qv[j] - c.cv[j]))), c.cid
         |     LIMIT 1) AS cell
         |  FROM q),
         |s$i AS (
         |  SELECT cell, j, sum(qv[j]) AS s, count(*) AS n
         |  FROM (SELECT cell, qv, unnest(range(1, len(qv) + 1)) AS j FROM a$i)
         |  GROUP BY cell, j),
         |m$i AS (
         |  SELECT cell, j, CAST(CASE WHEN s < 0 THEN -u ELSE u END AS BIGINT) AS v
         |  FROM (SELECT cell, j,
         |          (abs(s) // n) + CASE WHEN (abs(s) % n) * 2 >= n THEN 1 ELSE 0 END AS u,
         |          s
         |        FROM s$i)),
         |c$i AS MATERIALIZED (
         |  SELECT p.cid, coalesce(u.cv, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT cell AS cid, list(v ORDER BY j) AS cv FROM m$i GROUP BY cell) u
         |  ON u.cid = p.cid)""".stripMargin
    }.mkString
    head + steps +
      s""",
         |af AS MATERIALIZED (
         |  SELECT vec_id,
         |    (SELECT c.cid FROM c$iters c
         |     ORDER BY list_sum(list_transform(range(1, len(qv) + 1),
         |       j -> (qv[j] - c.cv[j]) * (qv[j] - c.cv[j]))), c.cid
         |     LIMIT 1) AS cell
         |  FROM q)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS sim
         |FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |JOIN embeddings ea ON ea.vec_id = a.vec_id
         |JOIN embeddings eb ON eb.vec_id = b.vec_id
         |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= $threshold""".stripMargin
  }

  /** DuckDB restatement of [[ops.CorpusStats.exactCorrelation]]: identical
    * scaled-LONG grid, HUGEINT sums (≡ the Spark side's split-LONG +
    * DECIMAL(38,0) assembly), and the same final double expression
    * operation-for-operation. Generated per column list so every pair's
    * arithmetic is character-identical. */
  private def corrOracle(table: String, cols: Seq[(String, Int)]): String = {
    val names = cols.map(_._1)
    val sel = cols.map { case (c, sc) =>
      s"CAST(round($c * ${math.pow(10, sc).toLong}) AS BIGINT) AS v_$c" }
    val notNull = names.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val pairs = for (i <- names.indices; j <- (i + 1) until names.size)
      yield (names(i), names(j))
    val sums =
      names.map(c => s"sum(CAST(v_$c AS HUGEINT)) AS s_$c") ++
      names.map(c => s"sum(CAST(v_$c AS HUGEINT) * v_$c) AS q_$c") ++
      pairs.map { case (a, b) => s"sum(CAST(v_$a AS HUGEINT) * v_$b) AS p_${a}_$b" }
    val branches = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  round(CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |        sqrt(CAST(n * q_$a - s_$a * s_$a AS DOUBLE)
         |           * CAST(n * q_$b - s_$b * s_$b AS DOUBLE)), 6) AS corr,
         |  CAST(n AS BIGINT) AS n
         |FROM g
         |WHERE n * q_$a - s_$a * s_$a > 0 AND n * q_$b - s_$b * s_$b > 0""".stripMargin }
    s"""WITH s AS (
       |  SELECT ${sel.mkString(",\n    ")}
       |  FROM $table WHERE $notNull),
       |g AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM s)
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Shared ANN-probe contract aggregate (see the q_ivf_knn/q_lsh_knn
    * oracle comment): one row of (n_in_bounds, top1_id, top1_score,
    * scores_exact) over an ANN result of (ann_id, score). The join back to
    * the corpus recomputes each emitted id's true cosine independently of
    * whatever score the candidate machinery attached to it. */
  private def annContract(ann: DataFrame, corpus: DataFrame,
                          probe: Array[Float], k: Int): DataFrame =
    ann.join(corpus.select(col("vec_id").as("_cid"), col("embedding")),
        col("ann_id") === col("_cid"))
      .select(col("ann_id"), col("score"),
        round(cosine_sim(col("embedding"), typedLit(probe)), 6).as("_true"))
      .agg(
        count(lit(1)).between(1, k).as("n_in_bounds"),
        max_by(col("ann_id"), struct(col("score"), -col("ann_id"))).as("top1_id"),
        max(col("score")).as("top1_score"),
        bool_and(col("score") === col("_true")).as("scores_exact"))

  /** Per-query form of [[annContract]] for BATCHED ANN serving (r19
    * verdict item 2): one row per probe of (qid, n_in_bounds, top1_id,
    * top1_score, scores_exact) over a batch result of (qid, ann_id,
    * score). Same independence argument: the corpus join-back recomputes
    * every emitted id's true cosine against ITS OWN query vector. */
  private def annBatchContract(ann: DataFrame, corpus: DataFrame,
                               probes: DataFrame, k: Int): DataFrame =
    ann.join(corpus.select(col("vec_id").as("_cid"), col("embedding")),
        col("ann_id") === col("_cid"))
      .join(probes.select(col("qid"), col("embedding").as("_qv")), Seq("qid"))
      .select(col("qid"), col("ann_id"), col("score"),
        round(cosine_sim(col("embedding"), col("_qv")), 6).as("_true"))
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).between(1, k).as("n_in_bounds"),
        max_by(col("ann_id"), struct(col("score"), -col("ann_id"))).as("top1_id"),
        max(col("score")).as("top1_score"),
        bool_and(col("score") === col("_true")).as("scores_exact"))

  /** The batched-ANN oracle: DuckDB independently computes each probe's
    * global argmax neighbor (ties to the smaller id — the repo-wide
    * (score DESC, id ASC) order), one row per probe. */
  private val nngBatchOracleSql: String =
    """WITH probes AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id % 29 = 3),
      |sims AS (
      |  SELECT p.qid, e.vec_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], p.qv), 6) AS sim
      |  FROM embeddings e, probes p),
      |ranked AS (
      |  SELECT qid, vec_id, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      |  FROM sims)
      |SELECT qid, CAST(1 AS BOOLEAN) AS n_in_bounds, vec_id AS top1_id,
      |  sim AS top1_score, CAST(1 AS BOOLEAN) AS scores_exact
      |FROM ranked WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- flagship

  /** Flagship: the reference's full RAG topology on sf0.001 —
    * documents → non-empty filter (O3) → uuid (O2) → stub embedding (O4) →
    * vector docs (O5) → exact knn top-10 for a probe query. */
  def entry(spark: SparkSession): DataFrame = {
    // driver smoke-checks this at sf0.001; overridable for other layouts
    // (full config-driven runs live in graft.pipeline.RunPipeline)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_ENTRY_DIR", "/root/testdata/sf0.001")
    val provider = graft.embed.StubEmbeddingProvider("titan-v2")
    val docs = Tables.documents(spark, sfDir)
      .select(col("text"),
        lit("2024-01-01T12:00:00.000Z").as("created_at"),
        concat(lit("doc-"), col("doc_id")).as("_id"))
    val filtered = graft.pipeline.RagPipeline.filterNonEmpty(docs)
    val embedded = graft.pipeline.RagPipeline.embed(filtered, provider)
    val vectorDocs = graft.pipeline.RagPipeline.toVectorDocs(embedded)
    val queryVec = provider.embed("spark query engine").embedding
    Knn.topK(vectorDocs, "passage_embedding", "_id", queryVec, 10, "cosine")
      .select(col("_id"), col("text"), round(col("score"), 6).as("score"))
  }

  // ------------------------------------------------------- query definitions

  private def all: Seq[Q] = relational ++ relational2 ++ nested ++ vector ++ llmOps

  private def relational: Seq[Q] = Seq(

    q("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
        |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_disc_price,
        |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*) AS avg_qty,
        |  CAST(sum(CAST(round(l_discount * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          (decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (decSum(col("l_discount"), 6) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    q("q_proj_filter",
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice * 1.1 AS DECIMAL(28,2)) AS DOUBLE) AS adj_price,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('O','F')
        |  AND o_totalprice BETWEEN 1000 AND 5000
        |  AND o_orderpriority LIKE '1-%'
        |  AND NOT (o_custkey IS NULL)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderstatus").isin("O", "F") &&
          col("o_totalprice").between(1000, 5000) &&
          col("o_orderpriority").like("1-%") &&
          !col("o_custkey").isNull)
        .select(col("o_orderkey"), col("o_custkey"),
          dec(col("o_totalprice") * 1.1).as("adj_price"),
          col("o_orderpriority"))
    },

    q("q_string_fns",
      """SELECT c_custkey,
        |  length(c_name) AS name_len,
        |  upper(c_mktsegment) AS seg_upper,
        |  lower(c_name) AS name_lower,
        |  trim(concat(' ', c_name, ' ')) AS name_trim,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  concat(c_mktsegment, '-', CAST(c_custkey AS VARCHAR)) AS seg_key,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
        |  CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS has_one
        |FROM customer""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(
        col("c_custkey"),
        length(col("c_name")).as("name_len"),
        upper(col("c_mktsegment")).as("seg_upper"),
        lower(col("c_name")).as("name_lower"),
        trim(concat(lit(" "), col("c_name"), lit(" "))).as("name_trim"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat(col("c_mktsegment"), lit("-"), col("c_custkey").cast("string")).as("seg_key"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"),
        when(col("c_name").like("%1%"), 1).otherwise(0).as("has_one"))
    },

    q("q_date_fns",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(day(o_orderdate) AS BIGINT) AS o_day,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
        |  CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01') AS BIGINT) AS days_to_y2k,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  strftime(o_orderdate, '%Y-%m-%d') AS iso_day
        |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 10 === 0)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("o_year"),
          month(col("o_orderdate")).cast("bigint").as("o_month"),
          dayofmonth(col("o_orderdate")).cast("bigint").as("o_day"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          date_add(col("o_orderdate"), 30).as("plus30"),
          datediff(lit("2000-01-01").cast("date"), col("o_orderdate")).cast("bigint").as("days_to_y2k"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso_day"))
    },

    q("q_math_fns",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_disc,
        |  CAST(round(l_extendedprice, 1) AS DOUBLE) AS price_r1,
        |  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        |  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        |  sqrt(l_extendedprice) AS price_sqrt,
        |  pow(l_quantity, 2) AS qty_sq,
        |  l_orderkey % 7 AS key_mod,
        |  CAST(sign(l_discount - 0.05) AS BIGINT) AS disc_sign
        |FROM lineitem WHERE l_orderkey % 25 = 0""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 25 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_disc"),
          round(col("l_extendedprice"), 1).as("price_r1"),
          floor(col("l_quantity")).as("qty_floor"),
          ceil(col("l_quantity")).as("qty_ceil"),
          sqrt(col("l_extendedprice")).as("price_sqrt"),
          pow(col("l_quantity"), 2).as("qty_sq"),
          (col("l_orderkey") % 7).as("key_mod"),
          signum(col("l_discount") - 0.05).cast("bigint").as("disc_sign"))
    },

    q("q_json_fns",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin) { (s, d) =>
      // from_json(MapType) streams the document once per row; per-path
      // get_json_object re-parses per extraction (122× slower at sf0.1)
      Tables.events(s, d)
        .select(element_at(from_json(col("props"), MapType(StringType, LongType)), "k")
            .as("k_val"),
          col("user_id"))
        .groupBy("k_val")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    },

    q("q_conditional",
      """SELECT event_id,
        |  CASE WHEN value > 50 THEN 'high' WHEN value > 10 THEN 'mid' ELSE 'low' END AS band,
        |  coalesce(nullif(event_type, 'error'), 'ERR') AS type_clean,
        |  CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS purchase_value
        |FROM events WHERE event_id % 7 = 0""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") % 7 === 0)
        .select(
          col("event_id"),
          when(col("value") > 50, "high").when(col("value") > 10, "mid")
            .otherwise("low").as("band"),
          coalesce(nullif(col("event_type"), lit("error")), lit("ERR")).as("type_clean"),
          when(col("event_type") === "purchase", col("value")).otherwise(0.0)
            .as("purchase_value"))
    },

    q("q_cast_matrix",
      """SELECT o_orderkey,
        |  CAST(o_orderkey AS VARCHAR) AS key_str,
        |  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_int,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST('123.5' AS DOUBLE) AS lit_double,
        |  CAST(o_orderstatus = 'O' AS INT) AS is_open
        |FROM orders WHERE o_orderkey % 11 = 0""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 11 === 0)
        .select(
          col("o_orderkey"),
          col("o_orderkey").cast("string").as("key_str"),
          col("o_orderkey").cast("string").cast("bigint").as("key_roundtrip"),
          floor(col("o_totalprice")).as("price_int"),
          col("o_orderdate").cast("date").as("order_date"),
          lit("123.5").cast("double").as("lit_double"),
          (col("o_orderstatus") === "O").cast("int").as("is_open"))
    },

    // ------------------------------------------------------------------ joins

    q("q_join_broadcast",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("revenue"))
    },

    q("q_join_smj",
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
    },

    q("q_join_left",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  coalesce(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 0) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(decSum(col("o_totalprice")), lit(0.0)).as("spend"))
    },

    q("q_join_semi_anti",
      """SELECT
        |  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS with_orders,
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)) AS without_orders""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("with_orders"))
      val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("without_orders"))
      withOrders.crossJoin(withoutOrders)
    },

    q("q_join_range",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("qty"))
    },

    q("q_join_theta",
      """SELECT s_suppkey, count(*) AS n_richer_customers
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
        |GROUP BY s_suppkey""".stripMargin) { (s, d) =>
      Tables.supplier(s, d)
        .join(Tables.customer(s, d),
          col("s_nationkey") === col("c_nationkey") &&
            col("c_acctbal") > col("s_acctbal"))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_richer_customers"))
    },

    q("q_join_cross",
      """SELECT r.r_name, n.n_name
        |FROM region r CROSS JOIN nation n""".stripMargin) { (s, d) =>
      Tables.region(s, d).select("r_name")
        .crossJoin(Tables.nation(s, d).select("n_name"))
    },

    q("q_join_full",
      """SELECT n_nationkey, n_name, grp_cust
        |FROM nation FULL JOIN (
        |  SELECT c_nationkey, count(*) AS grp_cust FROM customer GROUP BY c_nationkey
        |) c ON n_nationkey = c_nationkey""".stripMargin) { (s, d) =>
      val custPerNation = Tables.customer(s, d)
        .groupBy("c_nationkey").agg(count(lit(1)).as("grp_cust"))
      Tables.nation(s, d)
        .join(custPerNation, col("n_nationkey") === col("c_nationkey"), "full")
        .select(col("n_nationkey"), col("n_name"), col("grp_cust"))
    },

    q("q_promo_revenue",
      """SELECT p_type, p_brand, count(*) AS n_lines,
        |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size BETWEEN 5 AND 20
        |GROUP BY p_type, p_brand""".stripMargin) { (s, d) =>
      // TPC-H Q14-shaped: fact ⋈ filtered dimension (broadcast), revenue per
      // part type/brand — exercises the one table no other query touches
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_size").between(5, 20))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(count(lit(1)).as("n_lines"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"),
          decSum(col("l_quantity")).as("qty"))
    },

    // ------------------------------------------------------------- aggregates

    q("q_agg_distinct",
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d).groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n"))
    },

    q("q_agg_global",
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_qty,
        |  CAST(min(l_quantity) AS DOUBLE) AS min_qty,
        |  CAST(max(l_quantity) AS DOUBLE) AS max_qty,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        decSum(col("l_quantity")).as("total_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_partkey")).as("n_parts"))
    },

    q("q_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
    },

    q("q_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
    },

    q("q_collect",
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(c_mktsegment)), ',') AS segs,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS seg_set
        |FROM customer WHERE c_custkey <= 100 GROUP BY c_nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).filter(col("c_custkey") <= 100)
        .groupBy("c_nationkey")
        .agg(concat_ws(",", sort_array(collect_list(col("c_mktsegment")))).as("segs"),
          concat_ws(",", sort_array(collect_set(col("c_mktsegment")))).as("seg_set"))
    },

    // ---------------------------------------------------------------- windows

    q("q_window_rank",
      """SELECT c_nationkey, c_custkey, c_acctbal, rn, rnk, drnk, quartile FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER w AS rn,
        |    rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk,
        |    ntile(4) OVER w AS quartile
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |) WHERE rn <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
        .filter(col("rn") <= 3)
    },

    q("q_window_lag",
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(lag(o_orderdate) OVER w AS DATE) AS prev_date,
        |  CAST(lead(o_orderdate) OVER w AS DATE) AS next_date,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS gap_days
        |FROM orders WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          lag(col("o_orderdate"), 1).over(w).cast("date").as("prev_date"),
          lead(col("o_orderdate"), 1).over(w).cast("date").as("next_date"),
          first(col("o_orderkey")).over(w).as("first_key"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast("bigint").as("gap_days"))
    },

    q("q_window_frames",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  CAST(count(*)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last3
        |FROM orders WHERE o_custkey <= 50""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(28, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spend"),
          count(lit(1))
            .over(w.rowsBetween(-2, Window.currentRow)).as("n_last3"))
    },

    q("q_window_range",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    OVER (PARTITION BY o_custkey
        |          ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |          RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100 AS spend_30d
        |FROM orders WHERE o_custkey <= 40""".stripMargin) { (s, d) =>
      // RANGE frame over a day-number ordering: every order sums the
      // customer's trailing-30-day spend — value-based frames, not row
      // counts, so same-day orders share one frame deterministically
      val dayNum = datediff(col("o_orderdate").cast("date"),
        lit("1990-01-01").cast("date"))
      val w = Window.partitionBy("o_custkey").orderBy(dayNum)
        .rangeBetween(-30, Window.currentRow)
      Tables.orders(s, d).filter(col("o_custkey") <= 40)
        .select(col("o_custkey"), col("o_orderkey"),
          (sum(round(col("o_totalprice") * 100).cast("long")).over(w)
            .cast("double") / 100).as("spend_30d"))
    },

    // Distribution window functions (percent_rank / cume_dist) with an
    // explicit NULLS FIRST window ordering — the explicitness is the
    // point: DuckDB defaults ASC to NULLS LAST, Spark to NULLS FIRST, so
    // a null-ranking query that leans on engine defaults silently
    // reorders when ported.
    q("q_window_dist",
      """SELECT c_custkey, c_mktsegment, bal_band,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM (SELECT c_custkey, c_mktsegment,
        |        CASE WHEN c_acctbal < 0 THEN NULL
        |             ELSE CAST(floor(c_acctbal / 1000) AS BIGINT) END AS bal_band
        |      FROM customer)
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY bal_band NULLS FIRST, c_custkey)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("bal_band").asc_nulls_first, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          when(col("c_acctbal") < 0, lit(null))
            .otherwise(floor(col("c_acctbal") / 1000)).cast("bigint").as("bal_band"))
        .select(col("c_custkey"), col("c_mktsegment"), col("bal_band"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
    },

    q("q_topk_per_group",
      """SELECT user_id, event_id, CAST(value AS DOUBLE) AS value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        |  FROM events
        |) WHERE rn <= 2""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 2)
        .drop("rn")
    },

    // ------------------------------------------------------ sort/limit/setops

    q("q_sort_limit",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)
    },

    q("q_union",
      """SELECT k, src FROM (
        |  SELECT c_custkey AS k, 'c' AS src FROM customer WHERE c_custkey <= 30
        |  UNION ALL
        |  SELECT s_suppkey AS k, 's' AS src FROM supplier WHERE s_suppkey <= 30
        |)""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_custkey") <= 30)
        .select(col("c_custkey").as("k"), lit("c").as("src"))
      val sup = Tables.supplier(s, d).filter(col("s_suppkey") <= 30)
        .select(col("s_suppkey").as("k"), lit("s").as("src"))
      c.unionByName(sup)
    },

    q("q_union_distinct",
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nk"))
        .unionByName(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .distinct()
    },

    q("q_intersect_except",
      """SELECT 'both' AS tag, nk FROM (
        |  SELECT DISTINCT c_nationkey AS nk FROM customer
        |  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'cust_only' AS tag, nk FROM (
        |  SELECT DISTINCT c_nationkey AS nk FROM customer
        |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nk")).distinct()
      val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nk")).distinct()
      c.intersect(sup).select(lit("both").as("tag"), col("nk"))
        .unionByName(c.except(sup).select(lit("cust_only").as("tag"), col("nk")))
    },

    q("q_distinct_rows",
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select("o_orderstatus", "o_orderpriority").dropDuplicates()
    })

  private def relational2: Seq[Q] = Seq(

    q("q_map_fns",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  CAST(len(json_keys(props::JSON)) AS INT) AS n_keys,
        |  array_to_string(json_keys(props::JSON), ',') AS keys_csv
        |FROM events WHERE event_id % 13 = 0""".stripMargin) { (s, d) =>
      val m = from_json(col("props"), MapType(StringType, LongType))
      Tables.events(s, d)
        .filter(col("event_id") % 13 === 0)
        .select(col("event_id"),
          element_at(m, "k").as("k_val"),
          size(m).as("n_keys"),
          array_join(map_keys(m), ",").as("keys_csv"))
    },

    q("q_json_roundtrip",
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  concat('{"k":', json_extract_string(props, '$.k'), '}') AS rebuilt
        |FROM events WHERE event_id % 17 = 0""".stripMargin) { (s, d) =>
      val m = from_json(col("props"), MapType(StringType, LongType))
      Tables.events(s, d)
        .filter(col("event_id") % 17 === 0)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          to_json(m).as("rebuilt"))
    },

    q("q_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS qty
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },

    q("q_setops_all",
      """SELECT 'ia' AS tag, nk, count(*) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier) GROUP BY nk
        |UNION ALL
        |SELECT 'ea' AS tag, nk, count(*) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier) GROUP BY nk""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nk"))
      val su = Tables.supplier(s, d).select(col("s_nationkey").as("nk"))
      c.intersectAll(su).groupBy("nk").agg(count(lit(1)).as("n"))
        .select(lit("ia").as("tag"), col("nk"), col("n"))
        .unionByName(
          c.exceptAll(su).groupBy("nk").agg(count(lit(1)).as("n"))
            .select(lit("ea").as("tag"), col("nk"), col("n")))
    },

    q("q_iso_parse",
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso,
        |  CAST(epoch(strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ'),
        |    '%Y-%m-%dT%H:%M:%SZ')) AS BIGINT) AS parsed_epoch,
        |  CAST(hour(o_orderdate) AS BIGINT) AS h
        |FROM orders WHERE o_orderkey % 17 = 0""".stripMargin) { (s, d) =>
      val iso = date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"),
          iso.as("iso"),
          unix_timestamp(to_timestamp(iso, "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("parsed_epoch"),
          hour(col("o_orderdate")).cast("bigint").as("h"))
    },

    q("q_dedup_keep_first",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .drop("rn")
    },

    // TPC-H Q3 shape (shipping-priority): selective dimension filter
    // broadcast against two fact tables, fixed-point revenue agg, top-10.
    // The scale plan: customer(BUILDING) broadcasts, orders⋈lineitem is the
    // one big SMJ, TakeOrderedAndProject caps the result exchange at 10 rows.
    q("q_tpch_q3",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-06-15'
        |  AND l_shipdate > TIMESTAMP '1997-06-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1997-06-15").cast("timestamp"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d)
            .filter(col("l_shipdate") > lit("1997-06-15").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("date").as("odate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5 shape (local-supplier volume): six-table join where only the
    // customer⋈orders⋈lineitem chain is big — supplier/nation/region
    // broadcast — plus the extra c_nationkey = s_nationkey locality
    // predicate that makes the join graph cyclic.
    q("q_tpch_q5",
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin) { (s, d) =>
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = Tables.supplier(s, d)
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
    },

    // TPC-H Q10 shape (returned-item reporting): one selective quarter of
    // orders joins returned lineitems, then the customer dimension; revenue
    // agg at customer grain, top-20. Scale plan: the o_orderdate filter
    // prunes the orders scan, nation broadcasts, and the final ORDER BY is
    // a TakeOrderedAndProject — the full customer-grain aggregate never
    // sorts globally. (Adapted to this schema's columns: no
    // address/phone/comment in the generated customer table.)
    q("q_tpch_q10",
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1995-10-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // TPC-H Q18 shape (large-volume customers): the HAVING subquery
    // aggregates the SAME per-order quantity sum the outer query reports,
    // so one lineitem scan computes both — aggregate per orderkey, filter
    // > 250, join the (now tiny) survivors to orders + customer. The r4
    // semi-join formulation scanned and shuffled lineitem twice for no
    // additional information (measured 4.4× the baseline). o_orderkey is
    // unique per order, so the oracle's final GROUP BY is a no-op the
    // per-order aggregation already satisfies. Top-100 via
    // TakeOrderedAndProject.
    q("q_tpch_q18",
      """WITH big AS (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate, o_totalprice,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      val perOrder = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(decSum(col("l_quantity")).as("total_qty"),
          sum(col("l_quantity")).as("_q"))
        .filter(col("_q") > 250)
      Tables.orders(s, d)
        .join(perOrder, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // TPC-H Q4 shape (order-priority checking): the correlated EXISTS
    // subquery decorrelates to a LEFT SEMI join — per-order probes never
    // happen; the lineitem side is filtered then distinct-reduced by the
    // semi join itself. (Adapted to this schema: the reference predicate
    // l_commitdate < l_receiptdate has no generated columns, so the
    // existence test is "has a returned lineitem".)
    q("q_tpch_q4",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .join(Tables.lineitem(s, d)
            .filter(col("l_returnflag") === "R").select("l_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // TPC-H Q7 shape (volume shipping): the nation dimension participates
    // TWICE under different roles (supplier's vs customer's nation) with a
    // disjunctive cross-pair predicate that only resolves after both
    // joins. Both role-filtered dimensions broadcast; the fact chain never
    // re-shuffles for the second nation.
    q("q_tpch_q7",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      val names = Seq("NATION_1", "NATION_2")
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("_sk"), col("n_name").as("supp_nation"))
        .filter(col("supp_nation").isin(names: _*))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("_ck"), col("n_name").as("cust_nation"))
        .filter(col("cust_nation").isin(names: _*))
      val supp = Tables.supplier(s, d)
        .join(broadcast(n1), col("s_nationkey") === col("_sk"))
        .select("s_suppkey", "supp_nation")
      val cust = Tables.customer(s, d)
        .join(broadcast(n2), col("c_nationkey") === col("_ck"))
        .select("c_custkey", "cust_nation")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("bigint").as("l_year"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
    },

    // TPC-H Q8 shape (national market share): a conditional-over-total
    // ratio aggregated per year — the numerator is a CASE-gated slice of
    // the same exact LONG-cents volume sum as the denominator, so the
    // quotient is a deterministic double both engines compute identically.
    // Five dimensions broadcast (part/supplier/customer-region chain);
    // lineitem⋈orders stays the only big join.
    q("q_tpch_q8",
      """WITH all_sales AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        |    AND p_type = 'PROMO')
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END) AS DOUBLE)
        |    / sum(volume), 6) AS mkt_share,
        |  count(*) AS n
        |FROM all_sales GROUP BY o_year""".stripMargin) { (s, d) =>
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey").as("_nk"))),
          col("c_nationkey") === col("_nk"))
        .select("c_custkey")
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("_sk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("_sk"))
        .select("s_suppkey", "supp_nation")
      val promoParts = Tables.part(s, d)
        .filter(col("p_type") === "PROMO").select("p_partkey")
      val volume = roundAway(col("l_extendedprice") * (lit(1) - col("l_discount")) *
        lit(1000000)).cast("long")
      Tables.orders(s, d)
        .filter(col("o_orderdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(year(col("o_orderdate")).cast("bigint").as("o_year"),
          volume.as("_vol"), col("supp_nation"))
        .groupBy("o_year")
        .agg(
          round(sum(when(col("supp_nation") === "NATION_7", col("_vol")).otherwise(0L))
            .cast("double") / sum(col("_vol")), 6).as("mkt_share"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q22 shape (global sales opportunity): an uncorrelated scalar
    // subquery (the positive-balance average) broadcast as a 1-row cross
    // join, plus a NOT EXISTS that decorrelates to a LEFT ANTI join against
    // orders. (Adapted: no c_phone in the generated schema, so the report
    // groups by nationkey instead of phone country code; and the generated
    // orders table covers essentially every customer, so the existence test
    // is "no order since mid-1998" to keep the anti join non-trivial.)
    q("q_tpch_q22",
      """WITH avg_bal AS (
        |  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |           / 100 / count(*) AS ab
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100 AS totacctbal
        |FROM customer, avg_bal
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1998-06-01')
        |GROUP BY c_nationkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      // the threshold average goes through the file's exact fixed-point sum
      // (LONG cents) — a plain parallel avg(double) could drift a ULP from
      // DuckDB's serial sum and flip membership for a row sitting exactly
      // on the threshold, a binary diff no output rounding can absorb
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg((decSum(col("c_acctbal")) / count(lit(1))).as("ab"))
      c.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1998-06-01").cast("timestamp"))
            .select("o_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), decSum(col("c_acctbal")).as("totacctbal"))
    },

    // TPC-H Q6 shape (forecasting revenue change): the pure-scan query — no
    // join at all, one partial+final agg over a triple-predicate filter that
    // must reach the parquet reader (shipdate range prunes row groups via
    // min/max stats; discount/quantity land in PushedFilters). At 100 TB
    // this query IS its scan: the plan is right when nothing but the scan
    // and a 2-column project appear under the aggregate.
    q("q_tpch_q6",
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * l_discount * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(decSum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q12 shape (shipping-priority classification): the one big
    // orders⋈lineitem join with a cross-table lateness predicate, then a
    // conditional two-way CASE count per class. (Adapted: no l_shipmode /
    // commit/receipt dates in the generated schema — the class column is
    // l_linestatus and "late" is shipped ≥ 30 days after the order date.)
    // DuckDB's sum(int) is HUGEINT — both counts must CAST to BIGINT.
    q("q_tpch_q12",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin) { (s, d) =>
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d)
            .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(high, 1).otherwise(0)).cast("long").as("high_line_count"),
          sum(when(high, 0).otherwise(1)).cast("long").as("low_line_count"))
    },

    // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    // whose filter lives in the ON clause — restricting the non-preserved
    // side WITHOUT dropping order-less customers (a WHERE would) — then a
    // second aggregation over the first's result (count of counts).
    q("q_tpch_q13",
      """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "5-LOW",
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },

    // TPC-H Q15 shape (top supplier): an aggregated revenue view consumed
    // twice — once as the join input, once reduced to a 1-row global max
    // that broadcasts back as the selection threshold (the scalar-subquery
    // shape). Revenue goes through the exact LONG-micros sum so the
    // max-equality join cannot be broken by float accumulation order.
    q("q_tpch_q15",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin) { (s, d) =>
      val revenue = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("total_revenue"))
      val top = revenue.agg(max(col("total_revenue")).as("_max"))
      revenue
        .join(broadcast(top))
        .filter(col("total_revenue") === col("_max"))
        .join(broadcast(Tables.supplier(s, d)),
          col("s_suppkey") === col("supplier_no"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    },

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated scalar
    // subquery (per-part average quantity) decorrelates to a per-part
    // aggregate joined back — one pass over lineitem builds every group's
    // threshold; no per-row re-scan ever happens. The threshold average is
    // exact (LONG-cents sum / count) so a row sitting on the 0.5·avg
    // boundary cannot flip between engines. (Adapted: the part filter is
    // brand + size — the generated schema has no p_container.)
    q("q_tpch_q17",
      """WITH small_parts AS (
        |  SELECT p_partkey FROM part WHERE p_brand = 'Brand#3' AND p_size < 15),
        |part_avg AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
        |      / 100 / count(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / 7.0 AS avg_yearly,
        |  count(*) AS n
        |FROM lineitem, small_parts, part_avg
        |WHERE lineitem.l_partkey = p_partkey
        |  AND lineitem.l_partkey = part_avg.l_partkey
        |  AND l_quantity < 0.5 * avg_qty""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val smallParts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#3" && col("p_size") < 15)
        .select("p_partkey")
      val partAvg = li.groupBy(col("l_partkey").as("_pk"))
        .agg((decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
        .join(partAvg, col("l_partkey") === col("_pk"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg((decSum(col("l_extendedprice"), 6) / 7.0).as("avg_yearly"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates): one
    // equi-join hidden inside an OR of three conjunction groups — Catalyst
    // must extract the common p_partkey = l_partkey into the join key and
    // leave the brand/size/quantity disjunction as a residual filter, or the
    // plan degenerates to a nested-loop cross product. part broadcasts.
    q("q_tpch_q19",
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
        |  count(*) AS n
        |FROM lineitem, part
        |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#1'
        |    AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_partkey = l_partkey AND p_brand = 'Brand#2'
        |    AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_partkey = l_partkey AND p_brand = 'Brand#3'
        |    AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)""".stripMargin) { (s, d) =>
      val clause = (brand: String, size: (Int, Int), qty: (Int, Int)) =>
        col("p_brand") === brand &&
          col("p_size").between(size._1, size._2) &&
          col("l_quantity").between(qty._1, qty._2)
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("p_partkey") === col("l_partkey") &&
            (clause("Brand#1", (1, 10), (1, 11)) ||
              clause("Brand#2", (1, 20), (10, 20)) ||
              clause("Brand#3", (1, 30), (20, 30))))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q16 shape (part/supplier relationship count): a NOT IN that
    // decorrelates to a LEFT ANTI join (excluded suppliers broadcast), then
    // a count-DISTINCT aggregate per part attribute triple. The generated
    // schema has no partsupp — lineitem's (l_partkey, l_suppkey) IS the
    // part-supplier relation; no s_comment either, so the exclusion set is
    // the negative-balance suppliers.
    q("q_tpch_q16",
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#5' AND p_type <> 'ECONOMY'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "ECONOMY" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val excluded = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      Tables.lineitem(s, d)
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },

    // TPC-H Q11 shape (important stock): per-group value share against a
    // global fraction-of-total threshold — the HAVING-scalar-subquery shape.
    // BOTH the per-part values and the corpus total run the exact
    // LONG-micros sum, so threshold membership is bit-deterministic; the
    // total reduces to one row and broadcasts. (lineitem stands in for
    // partsupp; "value" is a nation's discounted revenue per part.)
    q("q_tpch_q11",
      """WITH nation_items AS (
        |  SELECT l_partkey,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT) AS v
        |  FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_3'),
        |total AS (
        |  SELECT CAST(sum(v) AS DOUBLE) / 1000000 AS tot FROM nation_items)
        |SELECT l_partkey, CAST(sum(v) AS DOUBLE) / 1000000 AS part_value
        |FROM nation_items, total
        |GROUP BY l_partkey, tot
        |HAVING CAST(sum(v) AS DOUBLE) / 1000000 > tot * 0.001""".stripMargin) { (s, d) =>
      val suppN3 = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val items = Tables.lineitem(s, d)
        .join(broadcast(suppN3), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("_val"))
      val total = items.agg(decSum(col("_val"), 6).as("tot"))
      items.groupBy(col("l_partkey"))
        .agg(decSum(col("_val"), 6).as("part_value"))
        .join(broadcast(total))
        .filter(col("part_value") > col("tot") * 0.001)
        .select(col("l_partkey"), col("part_value"))
    },

    // TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery
    // decorrelates to a per-part min aggregate joined back on equality —
    // each part's cheapest regional quote found in one pass, then the
    // equality join keeps exactly the suppliers achieving it. Costs are
    // scaled-integer (round(unit price · 10⁴) as BIGINT) so min/equality are
    // bit-exact in both engines. (lineitem's (l_partkey, l_suppkey, unit
    // price) stands in for partsupp; region = EUROPE.)
    // Scale plan: the target-part semi join prunes lineitem BEFORE the
    // (partkey, suppkey) aggregation — ~0.4 % of the fact rows reach the
    // shuffle (the equivalent of partition-pruning partsupp by part); the
    // oracle aggregates first and filters later, same result by the join
    // keys, but the pushed-down order is the one that survives 100 TB.
    q("q_tpch_q2",
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice / l_quantity * 10000) AS BIGINT)) AS cost_e4
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |esupp AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier, nation, region
        |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE'),
        |costs AS (
        |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name, cost_e4
        |  FROM ps, esupp, part
        |  WHERE ps.l_partkey = p_partkey AND ps.l_suppkey = s_suppkey
        |    AND p_size = 15 AND p_type = 'LARGE'),
        |minc AS (SELECT p_partkey AS mk, min(cost_e4) AS mc FROM costs GROUP BY p_partkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost_e4
        |FROM costs, minc
        |WHERE p_partkey = mk AND cost_e4 = mc
        |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 10""".stripMargin) { (s, d) =>
      val targetKeys = Tables.part(s, d)
        .filter(col("p_size") === 15 && col("p_type") === "LARGE")
        .select(col("p_partkey").as("_tpk"))
      val ps = Tables.lineitem(s, d)
        .join(broadcast(targetKeys), col("l_partkey") === col("_tpk"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(roundAway(col("l_extendedprice") / col("l_quantity") * 10000)
          .cast("long")).as("cost_e4"))
      val esupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val targetParts = Tables.part(s, d)
        .filter(col("p_size") === 15 && col("p_type") === "LARGE")
        .select("p_partkey", "p_name")
      val costs = ps
        .join(broadcast(targetParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(esupp), col("l_suppkey") === col("s_suppkey"))
      val minc = costs.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("cost_e4")).as("mc"))
      costs
        .join(broadcast(minc), col("p_partkey") === col("mk") && col("cost_e4") === col("mc"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("cost_e4"))
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
        .limit(10)
    },

    // TPC-H Q9 shape (product-type profit): a LIKE-filtered part dimension
    // gates the big lineitem⋈orders join; supplier→nation resolves the
    // grouping nation; profit aggregates per (nation, order year). All three
    // dimensions broadcast — the fact chain shuffles once for the agg.
    // (Adapted: no ps_supplycost — the cost proxy is 60 % of retail price
    // per unit, a deterministic expression with identical evaluation order
    // on both sides.)
    q("q_tpch_q9",
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_profit
        |FROM lineitem, orders, supplier, nation, part
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND s_nationkey = n_nationkey AND p_partkey = l_partkey
        |  AND p_name LIKE '%gear%'
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val gearParts = Tables.part(s, d)
        .filter(col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
      val suppNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val profit = col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.6) * col("p_retailprice") * col("l_quantity")
      Tables.lineitem(s, d)
        .join(broadcast(gearParts), col("p_partkey") === col("l_partkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(suppNation), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(decSum(profit, 6).as("sum_profit"))
    },

    // TPC-H Q20 shape (part promotion): the doubly-nested IN decorrelates
    // outward — per-(part, supplier) shipped quantity joins the per-part
    // total (both exact LONG-cents, derived from the SAME aggregate so the
    // halves can never disagree), the dominance filter yields qualifying
    // suppliers, and a LEFT SEMI reduces the supplier dimension. (Adapted:
    // no ps_availqty — "qualifies" means the supplier shipped > 50 % of a
    // SMALL-type part's 1996 volume.)
    q("q_tpch_q20",
      """WITH sp AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sq_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_partkey, l_suppkey),
        |pt AS (
        |  SELECT l_partkey AS tk, CAST(sum(sq_c) AS DOUBLE) / 100 AS tot
        |  FROM sp GROUP BY l_partkey),
        |qual AS (
        |  SELECT DISTINCT l_suppkey
        |  FROM sp, pt, part
        |  WHERE sp.l_partkey = tk AND p_partkey = sp.l_partkey
        |    AND p_type = 'SMALL'
        |    AND CAST(sq_c AS DOUBLE) / 100 > 0.5 * tot)
        |SELECT s_suppkey, s_name
        |FROM supplier, nation, region
        |WHERE s_suppkey IN (SELECT l_suppkey FROM qual)
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'""".stripMargin) { (s, d) =>
      // The part filter commutes below BOTH aggregations (it keys on
      // l_partkey alone, and the 50 % threshold compares within one
      // partkey), so lineitem is pre-pruned map-side by the broadcast
      // semi join and aggregated ONCE; the per-partkey total then comes
      // from a window over the already-aggregated (partkey, suppkey)
      // rows — the naive shape scanned lineitem twice (the sp subtree
      // fed two consumers) and paid a second aggregation plus a join.
      val smallParts = Tables.part(s, d)
        .filter(col("p_type") === "SMALL").select("p_partkey")
      val sp = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(roundAway(col("l_quantity") * 100).cast("long")).as("sq_c"))
      val wPart = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      val qual = sp
        .withColumn("tot", sum(col("sq_c")).over(wPart).cast("double") / 100)
        .filter(col("sq_c").cast("double") / 100 > lit(0.5) * col("tot"))
        .select("l_suppkey").distinct()
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")
      Tables.supplier(s, d)
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting). The EXISTS /
    // NOT EXISTS pair is per-ORDER set logic in disguise: a late row
    // survives iff its order has >1 distinct supplier (EXISTS another
    // supplier) and exactly ONE distinct LATE supplier (NOT EXISTS another
    // late one — the row's own supplier is late, so |late set| = 1 ⟺ no
    // other). That collapses the decorrelated semi + anti self-joins
    // (three shuffles of the fact table, r4's plan, 2.6× the baseline) to
    // ONE scan of lineitem: join orders (auto-broadcast here, SMJ at
    // scale), aggregate supplier sets per orderkey — buffers bounded by
    // suppliers-per-order — then roll the surviving per-order counts up to
    // s_name. numwait still counts base ROWS: an order contributes its
    // late-row count, not 1. (Adapted: "late" is shipped > 90 days after
    // the order date; no commit/receipt dates.)
    q("q_tpch_q21",
      """WITH base AS (
        |  SELECT s_name, l1.l_orderkey, l1.l_suppkey, o_orderdate
        |  FROM supplier, lineitem l1, orders
        |  WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |    AND o_orderstatus = 'F'
        |    AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM base
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = base.l_orderkey
        |                AND l2.l_suppkey <> base.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = base.l_orderkey
        |                    AND l3.l_suppkey <> base.l_suppkey
        |                    AND l3.l_shipdate > base.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin) { (s, d) =>
      val ordF = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val perOrder = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("_late"))
        .groupBy(col("l_orderkey"))
        .agg(
          collect_set(col("l_suppkey")).as("_supps"),
          collect_set(when(col("_late"), col("l_suppkey"))).as("_late_supps"),
          sum(when(col("_late"), 1L).otherwise(0L)).as("_n_late"))
        .filter(size(col("_late_supps")) === 1 && size(col("_supps")) > 1)
        .select(element_at(col("_late_supps"), 1).as("_suppkey"), col("_n_late"))
      perOrder
        .groupBy(col("_suppkey"))
        .agg(sum(col("_n_late")).as("_nw"))
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))),
          col("_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("_nw")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },

    q("q_above_avg",
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 2 * (
        |  SELECT avg(o_totalprice) FROM orders i
        |  WHERE i.o_orderstatus = o.o_orderstatus)""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val avgs = o.groupBy(col("o_orderstatus").as("st"))
        .agg(avg(col("o_totalprice")).as("st_avg"))
      o.join(broadcast(avgs), col("o_orderstatus") === col("st"))
        .filter(col("o_totalprice") > lit(2) * col("st_avg"))
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    q("q_time_bucket",
      """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts::TIMESTAMP),
        |    '%Y-%m-%d %H:%M:%S') AS bucket_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-02'
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .filter(col("ts") < lit("2024-01-02").cast("timestamp"))
        .groupBy(
          date_format(window(col("ts"), "5 minutes").getField("start"),
            "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total_value"))
    },

    // Recursive CTE (WITH RECURSIVE, Spark 4's UnionLoop): the calendar-
    // spine gap-fill — generate a month series recursively, LEFT JOIN the
    // fact table so empty months surface as zero instead of vanishing (at
    // the chosen price threshold several 1996 months ARE empty at the
    // oracle SF). The scale shape: recursion builds only the tiny spine
    // (12 driver-iterated steps, one row each) which then broadcasts
    // against the distributed fact scan — the big side never recurses.
    q("q_recursive_cte",
      """WITH RECURSIVE months(m) AS (
        |  SELECT DATE '1996-01-01'
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        |  WHERE m < DATE '1996-12-01')
        |SELECT strftime(m, '%Y-%m') AS month, count(o_orderkey) AS n_orders
        |FROM months LEFT JOIN orders
        |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        |  AND o_totalprice > 496000
        |GROUP BY m""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_rec")
      s.sql(
        """WITH RECURSIVE months(m) AS (
          |  SELECT DATE '1996-01-01'
          |  UNION ALL
          |  SELECT add_months(m, 1) FROM months WHERE m < DATE '1996-12-01')
          |SELECT date_format(m, 'yyyy-MM') AS month,
          |  count(o_orderkey) AS n_orders
          |FROM months LEFT JOIN orders_rec
          |  ON CAST(date_trunc('MONTH', o_orderdate) AS DATE) = m
          |  AND o_totalprice > 496000
          |GROUP BY m""".stripMargin)
    },

    // Oracle gotcha: DuckDB's sum over integers yields HUGEINT, which the
    // driver's pandas bridge renders as float64 ("1.0" vs Spark's "1") —
    // hash-mismatch with identical values. Every integer sum exposed in an
    // oracle result must be CAST to BIGINT.
    // First-order Markov transitions between consecutive events per user —
    // the "what happens after X" companion to the funnel. Probabilities
    // round through integer micro-units.
    q("q_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
        |  FROM events WHERE user_id < 50),
        |pr AS (SELECT src, dst, count(*) AS n FROM seq
        |       WHERE dst IS NOT NULL GROUP BY src, dst),
        |tt AS (SELECT src, sum(n) AS tot FROM pr GROUP BY src)
        |SELECT pr.src, pr.dst, pr.n,
        |  CAST(round(pr.n * 1000000.0 / tot) AS BIGINT) / 1000000.0 AS p
        |FROM pr JOIN tt USING (src)""".stripMargin) { (s, d) =>
      ops.Funnel.transitionMatrix(
        Tables.events(s, d).filter(col("user_id") < 50),
        "user_id", "ts", "event_id", "event_type")
    },

    q("q_sessionize",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(CAST(ts AS TIMESTAMP))
        |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE user_id < 20
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id
        |                      ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS session_value
        |FROM sessions GROUP BY user_id, session_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val marked = Tables.events(s, d)
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          when(lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L,
            1).otherwise(0).as("is_new"))
      val sess = marked.select(col("user_id"), col("ts"), col("value"),
        sum(col("is_new"))
          .over(Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("session_id"))
      sess.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          decSum(col("value")).as("session_value"))
    },

    // Conversion latency distribution (Funnel.timeToConvert): per-user
    // seconds from first view to first purchase at-or-after it, then the
    // exact latency percentiles (type-7 interpolation, the q_percentile
    // parity idiom). Two user-grain aggregations share one exchange; only
    // (user, 2 timestamps) rows shuffle.
    q("q_time_to_convert",
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_from
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id,
        |    CAST(epoch_us(min(CAST(e.ts AS TIMESTAMP))) - epoch_us(f.t_from)
        |      AS DOUBLE) / 1000000.0 AS convert_s
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= f.t_from
        |  GROUP BY e.user_id, f.t_from)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(convert_s, 0.5), 3) AS p50_s,
        |  round(quantile_cont(convert_s, 0.9), 3) AS p90_s
        |FROM c""".stripMargin) { (s, d) =>
      ops.Funnel.timeToConvert(Tables.events(s, d), "user_id", "ts",
          "event_type", fromType = "view", toType = "purchase")
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(convert_s, 0.5)"), 3).as("p50_s"),
          round(expr("percentile(convert_s, 0.9)"), 3).as("p90_s"))
    },

    // Rolling 7-day active users (Funnel.rollingActiveUsers): the WAU
    // curve on a daily grain. Events collapse FIRST to the bounded
    // (day, user) distinct grain — the only pass over raw events — then a
    // day-spine range join re-aggregates with count distinct (a windowed
    // sum cannot express rolling DISTINCT; users repeat across days).
    q("q_rolling_active",
      """WITH daily AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM daily)
        |SELECT d.day, count(DISTINCT da.user_id) AS active_users
        |FROM days d JOIN daily da ON da.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day""".stripMargin) { (s, d) =>
      ops.Funnel.rollingActiveUsers(Tables.events(s, d), "user_id", "ts",
        windowDays = 7)
    },

    // Sketch-family rolling actives (Funnel.rollingActiveSketches): the
    // extreme-scale WAU variant — one mergeable HLL sketch per active day,
    // unioned over the trailing window, so the rolling pass touches
    // |spine| sketch rows instead of exploding the (day, user) grain.
    // Contract oracle (the q_distinct_sketch discipline): DuckDB computes
    // the EXACT rolling distinct per day; Spark joins its sketch estimate
    // against its own exact rolling count and emits the ±5 % envelope
    // boolean (≈3 std errors at lgK=12) as a constant-by-contract — at
    // sf cardinalities the sketch sits in sparse mode and is exact.
    q("q_rolling_active_sketch",
      """WITH daily AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM daily)
        |SELECT d.day, count(DISTINCT da.user_id) AS n_exact,
        |  true AS rel_err_ok
        |FROM days d JOIN daily da ON da.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val est = ops.Funnel.rollingActiveSketches(ev, "user_id", "ts",
        windowDays = 7)
      val exact = ops.Funnel.rollingActiveUsers(ev, "user_id", "ts",
        windowDays = 7).withColumnRenamed("active_users", "n_exact")
      est.join(exact, Seq("day"))
        .select(col("day"), col("n_exact"),
          (abs(col("active_est").cast("double")
            / col("n_exact").cast("double") - lit(1.0)) <= lit(0.05))
            .as("rel_err_ok"))
    },

    // Top session paths (Funnel.topPaths): sessionize by 30-min inactivity
    // gap, render each session's chronological event-type sequence as one
    // path string, count identical journeys corpus-wide, keep the 15 most
    // common (count DESC, path ASC). One user-grain exchange serves the
    // gap window + session counter + per-session path agg (keys extend the
    // partition); the cut is TakeOrderedAndProject over the
    // distinct-path-bounded count table.
    q("q_top_paths",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(CAST(ts AS TIMESTAMP))
        |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id
        |                      ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sid
        |  FROM marked),
        |pathsrc AS (
        |  SELECT user_id, sid, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, sid
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM sess),
        |paths AS (
        |  SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |      AS path
        |  FROM pathsrc WHERE rn <= 64 GROUP BY user_id, sid)
        |SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin) { (s, d) =>
      ops.Funnel.topPaths(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", gapMicros = 1800000000L, n = 15, maxEvents = 64)
    },

    // Trailing-window volume anomalies (Funnel.dailyAnomalies): the
    // morning-after monitoring query — is each (type, day)'s event count
    // more than 3 trailing-sample-stddevs from its 7-day mean? The z-test
    // decides in INTEGER arithmetic ((x·m−S)²·(m−1) > t²·(m·SS−S²)·m, a
    // DECIMAL(38,0)/HUGEINT-exact inequality), so the anomaly booleans are
    // bit-identical cross-engine — no floating-point stddev anywhere near
    // the decision; trailing_mean is one integer division, rounded 1e-6.
    q("q_anomaly_days",
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT day, event_type, n_events,
        |    sum(n_events) OVER t AS s,
        |    sum(CAST(n_events AS HUGEINT) * n_events) OVER t AS ss,
        |    count(*) OVER t AS m,
        |    lag(day, 7) OVER (PARTITION BY event_type ORDER BY day) AS d7
        |  FROM daily
        |  WINDOW t AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |f AS (
        |  SELECT day, event_type, n_events, s, ss, m,
        |    CAST(n_events AS HUGEINT) * m - s AS dev
        |  FROM w WHERE m = 7 AND day - d7 = 7)
        |SELECT day, event_type, n_events,
        |  round(CAST(s AS DOUBLE) / m, 6) AS trailing_mean,
        |  dev * dev * (m - 1) > 9 * m * (m * ss - CAST(s AS HUGEINT) * s)
        |    AS is_anomaly,
        |  CASE WHEN dev * dev * (m - 1)
        |            > 9 * m * (m * ss - CAST(s AS HUGEINT) * s)
        |       THEN CASE WHEN dev > 0 THEN 'spike' ELSE 'dip' END
        |       ELSE 'none' END AS direction
        |FROM f""".stripMargin) { (s, d) =>
      ops.Funnel.dailyAnomalies(Tables.events(s, d), "ts", "event_type",
        lookbackDays = 7, zThreshold = 3)
    },

    // Per-type daily-volume OLS trend (Funnel.trendSlopes): the slope of
    // counts vs day offset with numerator/denominator exact integers and
    // ONE final division — the growth monitor next to anomaly/CUSUM.
    q("q_trend",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |wx AS (
        |  SELECT event_type, y,
        |    CAST(day - min(day) OVER (PARTITION BY event_type) AS BIGINT) AS x
        |  FROM daily),
        |s AS (
        |  SELECT event_type, count(*) AS n_days,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM wx GROUP BY 1)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  round(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_days * sxx - sx * sx AS DOUBLE), 6) AS slope_per_day,
        |  CASE WHEN n_days * sxy - sx * sy > 0 THEN 'rising'
        |       WHEN n_days * sxy - sx * sy < 0 THEN 'falling'
        |       ELSE 'flat' END AS direction
        |FROM s WHERE n_days * sxx - sx * sx <> 0""".stripMargin) { (s, d) =>
      ops.Funnel.trendSlopes(Tables.events(s, d), "ts", "event_type")
    },

    // CUPED variance reduction (Funnel.cupedAdjust): per-arm post-period
    // means adjusted by the pre-period covariate, theta = cov/var from
    // exact DECIMAL38 cross-products, arm means via the CLOSED FORM over
    // integer sums (never per-row float adjustment); pre/post split at
    // the spine midpoint, arm = user_id % 2.
    q("q_cuped",
      """WITH b AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |sp AS (SELECT min(day) AS mn, max(day) AS mx FROM b),
        |cut AS (SELECT mn + CAST((mx - mn) // 2 AS INTEGER) AS c FROM sp),
        |u AS (
        |  SELECT CAST(user_id % 2 AS INT) AS arm,
        |    sum(CASE WHEN day <= c THEN v ELSE 0 END) AS x,
        |    sum(CASE WHEN day > c THEN v ELSE 0 END) AS y
        |  FROM b, cut GROUP BY user_id),
        |p AS (
        |  SELECT count(*) AS n,
        |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |    sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
        |    sum(x::HUGEINT * y) AS sxy
        |  FROM u),
        |a AS (
        |  SELECT arm, count(*) AS n_users,
        |    sum(x::HUGEINT) AS ax, sum(y::HUGEINT) AS ay
        |  FROM u GROUP BY 1),
        |t AS (
        |  SELECT n, sx,
        |    CASE WHEN n * sxx - sx * sx <= 0 THEN 0.0
        |      ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
        |    CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
        |      THEN 0.0
        |      ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |          * CAST(n * sxy - sx * sy AS DOUBLE)
        |        / (CAST(n * sxx - sx * sx AS DOUBLE)
        |          * CAST(n * syy - sy * sy AS DOUBLE)) END AS rho2
        |  FROM p)
        |SELECT arm, CAST(n_users AS BIGINT) AS n_users,
        |  round(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0, 6)
        |    AS raw_mean,
        |  round(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0
        |    - theta * (CAST(ax AS DOUBLE) / CAST(n_users AS DOUBLE)
        |      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6)
        |    AS adj_mean,
        |  round(theta, 6) AS theta, round(rho2, 6) AS rho2
        |FROM a, t""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("_day"),
          roundAway(col("value") * 100).cast("long").as("_v"))
      val cut = ev.agg(min(col("_day")).as("_mn"), max(col("_day")).as("_mx"))
        .select(date_add(col("_mn"),
          shiftright(datediff(col("_mx"), col("_mn")), 1).cast("int"))
          .as("_c"))
      val u = ev.crossJoin(broadcast(cut)).groupBy(col("user_id"))
        .agg(sum(when(col("_day") <= col("_c"), col("_v")).otherwise(0L))
            .as("x"),
          sum(when(col("_day") > col("_c"), col("_v")).otherwise(0L))
            .as("y"))
        .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"),
          col("x"), col("y"))
      ops.Funnel.cupedAdjust(u, "arm", "x", "y", scale = 100L)
    },

    // Kaplan-Meier survival over user activity lifetimes (Funnel.
    // kaplanMeier): right-censoring-honest churn curve -- users whose last
    // event is within the censor horizon of corpus end leave the risk set
    // without counting as churned; per churn time, ln(1 - d/n) quantizes to
    // a micro-LONG and the product is an exact integer prefix sum, one
    // shared exp at the end. Horizon = 1 day (r15 verdict #1): this
    // corpus's users all close within 0–2 days of corpus end, so a 7-day
    // horizon censored EVERYONE and the gate compared empty sets; at 1 day
    // the churned cohort is 1/17/156 users across the three SFs, so every
    // gate exercises the positive (d > 0) path.
    q("q_kaplan_meier",
      """WITH u AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS f, CAST(max(ts) AS DATE) AS l
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id),
        |mx AS (SELECT max(l) AS maxd FROM u),
        |sp AS (
        |  SELECT l - f AS t, (l <= maxd - INTERVAL 1 DAY) AS dead
        |  FROM u, mx),
        |g AS (
        |  SELECT t, sum(CASE WHEN dead THEN 1 ELSE 0 END) AS d,
        |    count(*) AS c
        |  FROM sp GROUP BY t),
        |e AS (
        |  SELECT t, d, c,
        |    coalesce(sum(c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |    sum(c) OVER () AS total
        |  FROM g),
        |k AS (
        |  SELECT t, d, total - below AS n,
        |    CASE WHEN total - below > d
        |      THEN CAST(round(ln(CAST(total - below - d AS DOUBLE)
        |        / CAST(total - below AS DOUBLE)) * 1e6) AS BIGINT)
        |      ELSE 0 END AS lmic
        |  FROM e WHERE d > 0),
        |s AS (
        |  SELECT t, n, d,
        |    sum(lmic) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM k)
        |SELECT CAST(t AS BIGINT) AS t_days, CAST(n AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_events,
        |  CASE WHEN n = d THEN 0.0
        |    ELSE round(exp(CAST(cum AS DOUBLE) / 1e6), 6) END AS s_hat
        |FROM s""".stripMargin) { (s, d) =>
      ops.Funnel.kaplanMeier(Tables.events(s, d), "ts", "user_id",
        censorDays = 1)
    },

    // Two-group log-rank test (Funnel.logRank over Funnel.userSpans):
    // "do even and odd user cohorts churn at different rates" -- O_A
    // exact integer, per-time E and hypergeometric V terms micro-rounded
    // LONGs before the cross-time sums, chi-square on the rounded values.
    q("q_logrank",
      """WITH u AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS f, CAST(max(ts) AS DATE) AS l
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id),
        |mx AS (SELECT max(l) AS maxd FROM u),
        |sp AS (
        |  SELECT CAST(user_id % 2 AS INT) AS g, l - f AS t,
        |    (l <= maxd - INTERVAL 7 DAY) AS dd
        |  FROM u, mx),
        |gv AS (
        |  SELECT g, t, sum(CASE WHEN dd THEN 1 ELSE 0 END) AS dg,
        |    count(*) AS cg
        |  FROM sp GROUP BY 1, 2),
        |times AS (SELECT DISTINCT t FROM sp),
        |groups AS (SELECT g, count(*) AS ng FROM sp GROUP BY 1),
        |dense AS (
        |  SELECT gr.g, ti.t, gr.ng, coalesce(gv.dg, 0) AS dg,
        |    coalesce(gv.cg, 0) AS cg
        |  FROM times ti CROSS JOIN groups gr
        |  LEFT JOIN gv ON gv.g = gr.g AND gv.t = ti.t),
        |cum AS (
        |  SELECT g, t, dg,
        |    ng - coalesce(sum(cg) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nrisk
        |  FROM dense),
        |bt AS (
        |  SELECT t,
        |    sum(CASE WHEN g = 0 THEN dg ELSE 0 END) AS da, sum(dg) AS d,
        |    sum(CASE WHEN g = 0 THEN nrisk ELSE 0 END) AS na,
        |    sum(nrisk) AS n
        |  FROM cum GROUP BY t HAVING sum(dg) > 0 AND sum(nrisk) > 1),
        |terms AS (
        |  SELECT da,
        |    CAST(round(CAST(d AS DOUBLE) * CAST(na AS DOUBLE)
        |      / CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS em,
        |    CAST(round(CAST(d AS DOUBLE)
        |      * (CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(n - na AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |      * 1e6) AS BIGINT) AS vm
        |  FROM bt),
        |s AS (SELECT coalesce(sum(da), 0) AS oa, coalesce(sum(em), 0) AS e,
        |        coalesce(sum(vm), 0) AS v FROM terms),
        |naa AS (SELECT ng AS n_a FROM groups WHERE g = 0),
        |nbb AS (SELECT ng AS n_b FROM groups WHERE g = 1)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(oa AS BIGINT) AS o_a,
        |  round(CAST(e AS DOUBLE) / 1e6, 6) AS e_a,
        |  CASE WHEN v = 0 THEN NULL
        |    ELSE round((CAST(oa AS DOUBLE) - CAST(e AS DOUBLE) / 1e6)
        |      * (CAST(oa AS DOUBLE) - CAST(e AS DOUBLE) / 1e6)
        |      / (CAST(v AS DOUBLE) / 1e6), 6) END AS chi2,
        |  CASE WHEN v = 0 THEN NULL
        |    ELSE round((CAST(oa AS DOUBLE) - CAST(e AS DOUBLE) / 1e6)
        |      * (CAST(oa AS DOUBLE) - CAST(e AS DOUBLE) / 1e6)
        |      / (CAST(v AS DOUBLE) / 1e6), 6) > 3.841 END AS significant
        |FROM s, naa, nbb""".stripMargin) { (s, d) =>
      val spans = ops.Funnel.userSpans(Tables.events(s, d), "ts", "user_id",
          censorDays = 7)
        .select(pmod(col("user_id"), lit(2)).cast("int").as("g"),
          col("_t"), col("_dead"))
      ops.Funnel.logRank(spans, "g", "_t", "_dead")
    },

    // Mann-Kendall trend test (Funnel.mannKendall): the significance
    // companion to q_trend/q_theil_sen -- S = sum of sign(x_j - x_i) over
    // day pairs (exact integer), tie-corrected Var(S) in DECIMAL38,
    // continuity-corrected z one IEEE expression; direction from the
    // ROUNDED z vs +-1.96 so both engines call it identically.
    q("q_mann_kendall",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.event_type,
        |    coalesce(sum(CAST(sign(b.x - a.x) AS BIGINT)), 0) AS s
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND b.day > a.day
        |  GROUP BY 1),
        |n AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
        |ties AS (
        |  SELECT event_type,
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0) AS tt
        |  FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |j AS (
        |  SELECT n.event_type, n.n_days, coalesce(s.s, 0) AS s, ties.tt,
        |    CAST(CAST(n_days AS HUGEINT) * (n_days - 1) * (2 * n_days + 5)
        |      - tt AS DOUBLE) / 18.0 AS vard
        |  FROM n LEFT JOIN s ON s.event_type = n.event_type
        |  JOIN ties ON ties.event_type = n.event_type)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(s AS BIGINT) AS s,
        |  round(CASE WHEN s = 0 THEN 0.0
        |    WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(vard)
        |    ELSE CAST(s + 1 AS DOUBLE) / sqrt(vard) END, 6) AS z,
        |  CASE WHEN round(CASE WHEN s = 0 THEN 0.0
        |      WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(vard)
        |      ELSE CAST(s + 1 AS DOUBLE) / sqrt(vard) END, 6) > 1.96
        |    THEN 'rising'
        |  WHEN round(CASE WHEN s = 0 THEN 0.0
        |      WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(vard)
        |      ELSE CAST(s + 1 AS DOUBLE) / sqrt(vard) END, 6) < -1.96
        |    THEN 'falling'
        |  ELSE 'flat' END AS direction
        |FROM j""".stripMargin) { (s, d) =>
      ops.Funnel.mannKendall(Tables.events(s, d), "ts", "event_type")
    },

    // Weekly cohort LTV matrix (Funnel.cohortLtv): cohort by first-event
    // week, cumulative cent-exact value by age week over the
    // (cohort × age) grid.
    q("q_cohort_ltv",
      """WITH f AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE) AS cw
        |  FROM events GROUP BY user_id),
        |sz AS (SELECT cw, count(*) AS cohort_users FROM f GROUP BY cw),
        |cells AS (
        |  SELECT f.cw,
        |    CAST((CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)
        |      - f.cw) / 7 AS INT) AS age_weeks,
        |    count(DISTINCT e.user_id) AS n_active,
        |    sum(CAST(round(e.value * 100) AS BIGINT)) AS wv
        |  FROM events e JOIN f ON f.user_id = e.user_id
        |  GROUP BY 1, 2)
        |SELECT cw AS cohort_week, age_weeks,
        |  CAST(cohort_users AS BIGINT) AS cohort_users,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(wv AS DOUBLE) / 100 AS week_value,
        |  CAST(sum(wv) OVER (PARTITION BY cw ORDER BY age_weeks
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
        |    AS cum_value
        |FROM cells JOIN sz USING (cw)""".stripMargin) { (s, d) =>
      ops.Funnel.cohortLtv(Tables.events(s, d), "user_id", "ts", "value")
    },

    // Week-over-week audience overlap from THETA sketch artifacts
    // (theta_sketch_agg / theta_intersect / theta_a_not_b): retention,
    // churn, and new-user counts per consecutive-week pair — the set
    // INTERSECTION/DIFFERENCE capability HLL sketches lack, answered
    // from per-week artifacts alone. Below 2^lgK users/week the sketches
    // are exact-mode, so the oracle's true set counts hash-match.
    q("q_audience_overlap",
      """WITH wu AS (
        |  SELECT DISTINCT
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
        |    user_id
        |  FROM events),
        |wk AS (SELECT DISTINCT week FROM wu),
        |p AS (SELECT week, lead(week) OVER (ORDER BY week) AS nw FROM wk),
        |c AS (SELECT week, count(*) AS n FROM wu GROUP BY week),
        |ret AS (
        |  SELECT p.week, count(*) AS n
        |  FROM p JOIN wu a ON a.week = p.week
        |       JOIN wu b ON b.week = p.nw AND b.user_id = a.user_id
        |  GROUP BY p.week)
        |SELECT p.week,
        |  CAST(ca.n AS BIGINT) AS n_cur, CAST(cb.n AS BIGINT) AS n_next,
        |  CAST(coalesce(r.n, 0) AS BIGINT) AS n_retained,
        |  CAST(ca.n - coalesce(r.n, 0) AS BIGINT) AS n_churned,
        |  CAST(cb.n - coalesce(r.n, 0) AS BIGINT) AS n_new
        |FROM p JOIN c ca ON ca.week = p.week JOIN c cb ON cb.week = p.nw
        |LEFT JOIN ret r ON r.week = p.week
        |WHERE p.nw IS NOT NULL""".stripMargin) { (s, d) =>
      import graft.functions.ThetaExpressions._
      val wk = Tables.events(s, d).select(
        to_date(date_trunc("week", col("ts"))).as("week"), col("user_id"))
      val sk = wk.groupBy(col("week"))
        .agg(thetaSketchAgg(col("user_id")).as("_sk"))
      val w = Window.orderBy(col("week"))
      sk.withColumn("_nsk", lead(col("_sk"), 1).over(w))
        .withColumn("_nweek", lead(col("week"), 1).over(w))
        .filter(col("_nsk").isNotNull)
        .select(col("week"),
          round(thetaEstimate(col("_sk"))).cast("long").as("n_cur"),
          round(thetaEstimate(col("_nsk"))).cast("long").as("n_next"),
          round(thetaEstimate(thetaIntersect(col("_sk"), col("_nsk"))))
            .cast("long").as("n_retained"),
          round(thetaEstimate(thetaANotB(col("_sk"), col("_nsk"))))
            .cast("long").as("n_churned"),
          round(thetaEstimate(thetaANotB(col("_nsk"), col("_sk"))))
            .cast("long").as("n_new"))
    },

    // Exact Mann-Whitney ROC-AUC (Funnel.aucScoreVsLabel): does a user's
    // total cent-exact spend predict heavy-purchaser status (purchase
    // share above 1/5 — a scale-free label; "ever purchased" saturates
    // to all-positive on this data)? Midrank tie handling on the
    // collapsed distinct-score grain, one exact integer division.
    q("q_auc",
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS score,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
        |      > count(*) AS label
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT score AS s, count(*) AS n,
        |    sum(CASE WHEN label THEN 1 ELSE 0 END) AS np
        |  FROM pu GROUP BY score),
        |r AS (
        |  SELECT s, n, np,
        |    coalesce(sum(n) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM g),
        |a AS (
        |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(n - np) AS BIGINT) AS n_neg,
        |    sum(CAST(np AS HUGEINT) * (2 * cb + n + 1)) AS r2
        |  FROM r)
        |SELECT n_pos, n_neg,
        |  round(CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
        |    / CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6) AS auc
        |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin) { (s, d) =>
      val pu = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("score"),
          (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) * 5
            > count(lit(1))).as("label"))
      ops.Funnel.aucScoreVsLabel(pu, "score", "label")
    },

    // Lorenz concentration curve (CorpusStats.lorenzCurve): the decile
    // curve behind q_gini's scalar -- tie-exact via value-grain rank
    // interval overlaps (partition-offset cumulative, no per-row decile
    // assignment), counts and value sums exact DECIMAL38, one divide per
    // share.
    q("q_lorenz",
      """WITH pu AS (
        |  SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY user_id),
        |g AS (SELECT v, count(*) AS m FROM pu GROUP BY v),
        |c AS (
        |  SELECT v, m, coalesce(sum(m) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM g),
        |t AS (SELECT sum(m) AS n, sum(CAST(v AS HUGEINT) * m) AS tv FROM g),
        |x AS (
        |  SELECT c.v, c.m, c.cb, t.n, t.tv, CAST(d.d AS INT) AS decile
        |  FROM c, t, (SELECT unnest(range(1, 11)) AS d) d),
        |o AS (
        |  SELECT decile, v, tv,
        |    greatest(0, least(cb + m, (CAST(decile AS HUGEINT) * n) // 10)
        |      - greatest(cb, (CAST(decile - 1 AS HUGEINT) * n) // 10)) AS ov
        |  FROM x),
        |a AS (
        |  SELECT decile, max(tv) AS tv, sum(ov) AS n_rows,
        |    coalesce(sum(CAST(ov AS HUGEINT) * v), 0) AS dv
        |  FROM o WHERE ov > 0 GROUP BY decile)
        |SELECT decile, CAST(n_rows AS BIGINT) AS n_rows,
        |  round(CAST(dv AS DOUBLE) / CAST(tv AS DOUBLE), 6) AS value_share,
        |  round(CAST(sum(dv) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(tv AS DOUBLE), 6) AS cum_share
        |FROM a""".stripMargin) { (s, d) =>
      val pu = Tables.events(s, d)
        .where(col("value").isNotNull && col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(roundAway(col("value") * 100).cast("long")).as("v"))
      ops.CorpusStats.lorenzCurve(pu, "v", buckets = 10)
    },

    // Per-segment AUC (Funnel.aucByGroup): q_auc's score/label sliced by
    // user cohort (user_id % 4) -- the fairness/robustness eval slice;
    // identical doubled-midrank rank-sum arithmetic with every window
    // partitioned by the segment; single-class segments dropped.
    q("q_auc_by_segment",
      """WITH pu AS (
        |  SELECT CAST(user_id % 4 AS INT) AS seg,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS score,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
        |      > count(*) AS label
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT seg, score AS s, count(*) AS n,
        |    sum(CASE WHEN label THEN 1 ELSE 0 END) AS np
        |  FROM pu GROUP BY seg, score),
        |r AS (
        |  SELECT seg, s, n, np,
        |    coalesce(sum(n) OVER (PARTITION BY seg ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM g),
        |a AS (
        |  SELECT seg, CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(n - np) AS BIGINT) AS n_neg,
        |    sum(CAST(np AS HUGEINT) * (2 * cb + n + 1)) AS r2
        |  FROM r GROUP BY seg)
        |SELECT seg, n_pos, n_neg,
        |  round(CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
        |    / CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6) AS auc
        |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin) { (s, d) =>
      val pu = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("score"),
          (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) * 5
            > count(lit(1))).as("label"))
        .select(pmod(col("user_id"), lit(4)).cast("int").as("seg"),
          col("score"), col("label"))
      ops.Funnel.aucByGroup(pu, "seg", "score", "label")
    },

    // Multi-touch attribution (Funnel.attribution): first/last/linear
    // credit per channel for every purchase, over the touches since the
    // user's previous purchase. Linear credit is exact micro-unit
    // arithmetic — each conversion distributes precisely 10⁶ units with
    // the remainder on the last touch — so channel totals hash-match.
    q("q_attribution",
      """WITH m AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      OVER (PARTITION BY user_id
        |            ORDER BY CAST(ts AS TIMESTAMP), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS s
        |  FROM events),
        |nc AS (
        |  SELECT user_id, count(*) AS n_conv FROM m
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |t AS (
        |  SELECT m.user_id, m.event_type, m.ts, m.event_id, m.s
        |  FROM m JOIN nc ON nc.user_id = m.user_id
        |  WHERE m.event_type <> 'purchase' AND m.s < nc.n_conv),
        |pos AS (
        |  SELECT event_type,
        |    row_number() OVER w AS rn,
        |    count(*) OVER (PARTITION BY user_id, s) AS n
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id, s
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |cr AS (
        |  SELECT event_type,
        |    CASE WHEN rn = 1 THEN 1 ELSE 0 END AS f,
        |    CASE WHEN rn = n THEN 1 ELSE 0 END AS l,
        |    1000000 // n + CASE WHEN rn = n
        |      THEN 1000000 - n * (1000000 // n) ELSE 0 END AS lin
        |  FROM pos)
        |SELECT event_type AS channel,
        |  CAST(sum(f) AS BIGINT) AS first_touch,
        |  CAST(sum(l) AS BIGINT) AS last_touch,
        |  round(CAST(sum(lin) AS DOUBLE) / 1000000, 6) AS linear_credit
        |FROM cr GROUP BY event_type""".stripMargin) { (s, d) =>
      ops.Funnel.attribution(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", convType = "purchase")
    },

    // Calibration + Brier (Funnel.calibration): does "predicted 0.7"
    // convert 70% of the time — the eval member AUC can't answer.
    // Predictions enter as exact micro-rationals ((1e6·n⁺) div n, never
    // a float), buckets are integer cuts, Brier accumulates split-LONG.
    q("q_calibration",
      """WITH pu AS (
        |  SELECT user_id,
        |    (1000000 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END))
        |      // count(*) AS p,
        |    sum(CAST(round(value * 100) AS BIGINT)) > 10000 AS y
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT p, CASE WHEN y THEN 1 ELSE 0 END AS yy,
        |    least(9, (p * 10) // 1000000) AS b,
        |    p - (CASE WHEN y THEN 1 ELSE 0 END) * 1000000 AS d
        |  FROM pu),
        |per AS (
        |  SELECT b, count(*) AS n, sum(p) AS sp, sum(yy) AS sy,
        |    sum(CAST(d AS HUGEINT) * d) AS sq
        |  FROM r GROUP BY b)
        |SELECT CAST(b AS INT) AS bucket, CAST(n AS BIGINT) AS n,
        |  round(CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6) AS mean_pred,
        |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate,
        |  round(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0), 6) AS brier
        |FROM per
        |UNION ALL
        |SELECT -1, CAST(sum(n) AS BIGINT),
        |  round(CAST(sum(sp) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) * 1000000.0), 6),
        |  round(CAST(sum(sy) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6),
        |  round(CAST(sum(sq) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) * 1000000000000.0), 6)
        |FROM per""".stripMargin) { (s, d) =>
      val pu = Tables.events(s, d).groupBy(col("user_id"))
        .agg(expr("(1000000L * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)) div count(*)")
          .as("p_micro"),
          (sum(roundAway(col("value") * 100).cast("long")) > 10000L).as("y"))
      ops.Funnel.calibration(pu, "p_micro", "y", nBuckets = 10)
    },

    // Time-decay attribution (Funnel.attributionDecay): the fourth
    // standard model — a touch's credit halves per day of age at its
    // conversion, decided in EXACT integers (bucket ⌊Δ/day⌋, weight
    // 2^(30−b), micro-credits with remainder-to-last) so every credit
    // reproduces bit-for-bit with no float decay anywhere.
    q("q_attribution_decay",
      """WITH m AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      OVER (PARTITION BY user_id
        |            ORDER BY CAST(ts AS TIMESTAMP), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS s
        |  FROM events),
        |nc AS (
        |  SELECT user_id, count(*) AS n_conv FROM m
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |cv AS (
        |  SELECT user_id, s, epoch_us(CAST(ts AS TIMESTAMP)) AS cts
        |  FROM m WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT m.user_id, m.event_type, m.ts, m.event_id, m.s, cv.cts
        |  FROM m
        |  JOIN nc ON nc.user_id = m.user_id
        |  JOIN cv ON cv.user_id = m.user_id AND cv.s = m.s
        |  WHERE m.event_type <> 'purchase' AND m.s < nc.n_conv),
        |wt AS (
        |  SELECT user_id, event_type, ts, event_id, s,
        |    (CAST(1 AS BIGINT) << CAST(30 - least(30,
        |      (cts - epoch_us(CAST(ts AS TIMESTAMP))) // 86400000000) AS INT))
        |      AS w
        |  FROM t),
        |cr0 AS (
        |  SELECT user_id, event_type, ts, event_id, s,
        |    (1000000 * w) // (sum(w) OVER (PARTITION BY user_id, s)) AS c0
        |  FROM wt),
        |cr AS (
        |  SELECT event_type, c0,
        |    sum(c0) OVER (PARTITION BY user_id, s) AS sumc,
        |    row_number() OVER (PARTITION BY user_id, s
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, s) AS n
        |  FROM cr0)
        |SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_touches,
        |  round(CAST(sum(c0 + CASE WHEN rn = n THEN 1000000 - sumc ELSE 0 END)
        |    AS DOUBLE) / 1000000, 6) AS decay_credit
        |FROM cr GROUP BY event_type""".stripMargin) { (s, d) =>
      ops.Funnel.attributionDecay(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", convType = "purchase",
        halfLifeUs = 86400000000L, capBuckets = 30)
    },

    // Two-proportion A/B z-test (Funnel.abTestConversion): user_id-parity
    // arms, conversion = ever-purchased, and the z² > 1.96² decision
    // cross-multiplied into DECIMAL(38,0) integers — the q_anomaly_days
    // exact-boolean discipline applied to experiment analysis.
    q("q_ab_test",
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |arms AS (
        |  SELECT user_id % 2 AS arm, count(*) AS n, sum(conv) AS c
        |  FROM pu GROUP BY 1),
        |o AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_0,
        |    CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_1,
        |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS conv_0,
        |    CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS conv_1
        |  FROM arms),
        |d AS (
        |  SELECT n_0, n_1, conv_0, conv_1,
        |    CAST(conv_0 AS HUGEINT) * n_1 - CAST(conv_1 AS HUGEINT) * n_0 AS D,
        |    CAST(n_0 AS HUGEINT) + n_1 AS T,
        |    CAST(conv_0 AS HUGEINT) + conv_1 AS C
        |  FROM o)
        |SELECT n_0, n_1, conv_0, conv_1,
        |  round(CAST(conv_0 AS DOUBLE) / n_0, 6) AS rate_0,
        |  round(CAST(conv_1 AS DOUBLE) / n_1, 6) AS rate_1,
        |  10000 * D * D * T > 38416 * CAST(n_0 AS HUGEINT) * n_1 * C * (T - C)
        |    AS significant,
        |  CASE WHEN 10000 * D * D * T
        |            > 38416 * CAST(n_0 AS HUGEINT) * n_1 * C * (T - C)
        |       THEN CASE WHEN D > 0 THEN 'arm0' ELSE 'arm1' END
        |       ELSE 'none' END AS direction
        |FROM d""".stripMargin) { (s, d) =>
      ops.Funnel.abTestConversion(Tables.events(s, d), "user_id", "event_type",
        convType = "purchase", zT100 = 196)
    },

    // Item-item co-occurrence with lift (Retrieval.itemCooccurrence):
    // "users who touched X also touched Y" over the props.k item id, with
    // the per-user distinct-item cap that bounds a bot's pair mint. The
    // oracle replays cap, supports, and the exact integer-ratio lift.
    q("q_item_cooccur",
      """WITH ui0 AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS i
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |ui AS (
        |  SELECT u, i FROM (
        |    SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS rn
        |    FROM ui0)
        |  WHERE rn <= 50),
        |us AS (SELECT count(DISTINCT u) AS nu FROM ui),
        |sup AS (SELECT i, count(*) AS n FROM ui GROUP BY i),
        |p AS (
        |  SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_ab
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT item_a, item_b, n_ab, sa.n AS n_a, sb.n AS n_b,
        |  round(CAST(n_ab AS DOUBLE) * CAST(nu AS DOUBLE)
        |    / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)), 6) AS lift
        |FROM p JOIN sup sa ON sa.i = item_a JOIN sup sb ON sb.i = item_b, us
        |ORDER BY n_ab DESC, item_a, item_b LIMIT 30""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .filter(col("item").isNotNull)
      ops.Retrieval.itemCooccurrence(ev, "user_id", "item",
        maxItemsPerUser = 50, minPairCount = 5L, topK = 30)
    },

    // Association rules (Retrieval.associationRules): q_item_cooccur made
    // directional -- both antecedent->consequent rules per frequent pair
    // with support n_ab/U, confidence n_ab/n_ant, lift; top-k by rounded
    // confidence with a total-order tiebreak both engines sort alike.
    q("q_assoc_rules",
      """WITH ui0 AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS i
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |ui AS (
        |  SELECT u, i FROM (
        |    SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS rn
        |    FROM ui0)
        |  WHERE rn <= 50),
        |us AS (SELECT count(DISTINCT u) AS nu FROM ui),
        |sup AS (SELECT i, count(*) AS n FROM ui GROUP BY i),
        |p AS (
        |  SELECT a.i AS ia, b.i AS ib, count(*) AS n_ab
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |pj AS (
        |  SELECT ia, ib, n_ab, sa.n AS na, sb.n AS nb
        |  FROM p JOIN sup sa ON sa.i = ia JOIN sup sb ON sb.i = ib),
        |dir AS (
        |  SELECT ia AS antecedent, ib AS consequent, n_ab, na AS n_ant,
        |    nb AS n_cons FROM pj
        |  UNION ALL
        |  SELECT ib, ia, n_ab, nb, na FROM pj)
        |SELECT antecedent, consequent, n_ab, n_ant, n_cons,
        |  round(CAST(n_ab AS DOUBLE) / CAST(nu AS DOUBLE), 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_ant AS DOUBLE), 6) AS confidence,
        |  round(CAST(n_ab AS DOUBLE) * CAST(nu AS DOUBLE)
        |    / (CAST(n_ant AS DOUBLE) * CAST(n_cons AS DOUBLE)), 6) AS lift
        |FROM dir, us
        |ORDER BY confidence DESC, antecedent, consequent LIMIT 40""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .filter(col("item").isNotNull)
      ops.Retrieval.associationRules(ev, "user_id", "item",
        maxItemsPerUser = 50, minPairCount = 5L, topK = 40)
    },

    // Blocked sorted-neighborhood candidates (Dedup.sortedNeighborPairs):
    // the merge/purge blocking paradigm — sort locality, not hashing —
    // with the full windowed candidate set and key distances as output.
    q("q_snm_dedup",
      """WITH s AS (
        |  SELECT doc_id, substr(lower(trim(text)), 1, 32) AS k,
        |    substr(lower(trim(text)), 1, 1) AS blk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, k, blk,
        |    row_number() OVER (PARTITION BY blk ORDER BY k, doc_id) AS rn
        |  FROM s)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.k AS key_a, b.k AS key_b,
        |  CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM r a JOIN r b
        |  ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 5""".stripMargin) { (s, d) =>
      ops.Dedup.sortedNeighborPairs(
        Tables.documents(s, d)
          .select(col("doc_id"),
            substring(lower(trim(col("text"))), 1, 32).as("_key")),
        "_key", "doc_id", window = 5)
    },

    // Two-sided CUSUM changepoint statistics (Funnel.cusumChangepoints):
    // sequential drift detection over daily volumes, scaled to LONG
    // arithmetic by the type's day count so the recursion is bit-exact on
    // any engine. The oracle replays the same recursion as a RECURSIVE
    // CTE over row_number-ordered days (the q_ewma pattern — tiny spine,
    // never the corpus).
    q("q_cusum",
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |num AS (
        |  SELECT event_type, day, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS k
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS total
        |  FROM daily GROUP BY 1),
        |r AS (
        |  SELECT n.event_type, n.day, n.x, n.k,
        |    greatest(0, t.n * n.x - t.total - 5 * t.n) AS sp,
        |    greatest(0, -t.n * n.x + t.total - 5 * t.n) AS sn
        |  FROM num n JOIN tot t USING (event_type) WHERE n.k = 1
        |  UNION ALL
        |  SELECT n.event_type, n.day, n.x, n.k,
        |    greatest(0, r.sp + t.n * n.x - t.total - 5 * t.n),
        |    greatest(0, r.sn - t.n * n.x + t.total - 5 * t.n)
        |  FROM r JOIN num n ON n.event_type = r.event_type AND n.k = r.k + 1
        |       JOIN tot t ON t.event_type = n.event_type)
        |SELECT r.event_type, r.day, CAST(r.x AS BIGINT) AS n_events,
        |  round(CAST(r.sp AS DOUBLE) / t.n, 6) AS s_pos,
        |  round(CAST(r.sn AS DOUBLE) / t.n, 6) AS s_neg,
        |  (r.sp > 15 * t.n OR r.sn > 15 * t.n) AS is_change
        |FROM r JOIN tot t USING (event_type)""".stripMargin) { (s, d) =>
      ops.Funnel.cusumChangepoints(Tables.events(s, d), "ts", "event_type",
        driftK = 5, thresholdH = 15)
    },

    // SCD Type-2 dimension history (Funnel.scd2History): one versioned row
    // per run of equal event_type values per user, half-open validity
    // intervals, valid_to NULL on the current version. Timestamps leave as
    // formatted strings (the q_sessionize parquet-flavor lesson).
    q("q_scd2",
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id
        |  FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(CAST(ts AS TIMESTAMP)) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  CAST(row_number() OVER w AS INT) AS version
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(ts AS TIMESTAMP), event_id)""".stripMargin) { (s, d) =>
      ops.Funnel.scd2History(Tables.events(s, d), "user_id", "event_type",
          "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("version"))
    },

    // Incremental SCD2 maintenance (Funnel.scd2Merge): the history folds
    // from a pre-split base plus a later delta WITHOUT rescanning base
    // events; the oracle recomputes the whole history from scratch — a
    // cross-engine proof that incremental ≡ batch (the
    // q_incremental_dedup stance applied to dimension history).
    q("q_scd2_merge",
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id
        |  FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(CAST(ts AS TIMESTAMP)) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  CAST(row_number() OVER w AS INT) AS version
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(ts AS TIMESTAMP), event_id)""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val split = lit("2024-01-20").cast("timestamp")
      val base = ops.Funnel.scd2History(ev.filter(col("ts") < split),
        "user_id", "event_type", "ts", "event_id")
      ops.Funnel.scd2Merge(base, ev.filter(col("ts") >= split),
          "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("version"))
    },

    // Integer-exact α=1/2 EWMA per user (Funnel.ewmaHalf): the stream fold
    // s₁=x₁, sᵢ=⌊(sᵢ₋₁+xᵢ)/2⌋ over round(value·100) longs — bit-exact on
    // any engine, no float accumulation. The oracle replays the identical
    // fold via a RECURSIVE CTE stepping row_number-ordered events (NOT
    // list_reduce — DuckDB 1.0.0 mis-evaluates multi-row batches, the
    // q_funnel lesson); Spark's shiftright(·,1) and DuckDB's `//` are
    // both FLOOR division, so the fold agrees for every sign of the
    // scaled value, refunds included.
    q("q_ewma",
      """WITH RECURSIVE x AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS k
        |  FROM events),
        |n AS (SELECT user_id, max(k) AS nk FROM x GROUP BY user_id),
        |r AS (
        |  SELECT user_id, 1 AS k, v AS acc FROM x WHERE k = 1
        |  UNION ALL
        |  SELECT r.user_id, r.k + 1, (r.acc + x.v) // 2
        |  FROM r JOIN x ON x.user_id = r.user_id AND x.k = r.k + 1)
        |SELECT r.user_id, CAST(n.nk AS BIGINT) AS n_events,
        |  CAST(r.acc AS DOUBLE) / 100 AS ewma
        |FROM r JOIN n ON n.user_id = r.user_id AND r.k = n.nk""".stripMargin) { (s, d) =>
      ops.Funnel.ewmaHalf(Tables.events(s, d), "user_id", "value",
        "ts", "event_id", scale = 100)
    },

    // Salted two-phase aggregation (Skew.saltedCount): the deterministic
    // skew-mitigation fallback when AQE can't split a hot GROUP BY key —
    // partial counts per (key, salt) then a final per-key sum. The oracle
    // is the plain GROUP BY the salting must be observationally equal to.
    q("q_skew_salted",
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type") {
      (s, d) => ops.Skew.saltedCount(Tables.events(s, d), "event_type", salt = 16)
    },

    // Funnel analysis (ordered event-sequence matching): how deep does each
    // user get through view → click → purchase, with later stages only
    // counting AFTER earlier ones — a per-user state machine expressed as a
    // sorted-event HOF fold (collect → sort → aggregate lambda), no UDF, no
    // per-user iteration, one shuffle at user grain. The oracle computes
    // the SAME semantics INDEPENDENTLY as staged conditional mins over the
    // composite key ROW(micro-truncated ts, event_id) — first view, first
    // click lexicographically after it, first purchase after that — which
    // is EXACTLY the fold's sort order (the q_sessionize ns-vs-µs lesson,
    // tie-robust by construction rather than by data). Independent
    // formulation is deliberate twice over: it is a stronger check than
    // re-running the identical fold, and DuckDB 1.0.0's list_reduce
    // mis-evaluates multi-row batches (verified: a 15-row literal replay
    // folds one list to 1 where the single-row fold and a hand fold
    // give 3).
    q("q_funnel",
      """WITH f AS (
        |  SELECT user_id,
        |    ROW(CAST(ts AS TIMESTAMP), event_id) AS k, event_type
        |  FROM events WHERE ts < TIMESTAMP '2024-01-03'),
        |s1 AS (
        |  SELECT user_id, min(k) FILTER (WHERE event_type = 'view') AS k1
        |  FROM f GROUP BY user_id),
        |s2 AS (
        |  SELECT f.user_id,
        |    min(k) FILTER (WHERE event_type = 'click' AND k > k1) AS k2
        |  FROM f JOIN s1 USING (user_id) GROUP BY f.user_id),
        |s3 AS (
        |  SELECT f.user_id,
        |    min(k) FILTER (WHERE event_type = 'purchase' AND k > k2) AS k3
        |  FROM f JOIN s2 USING (user_id) GROUP BY f.user_id),
        |depth AS (
        |  SELECT s1.user_id,
        |    CAST(CASE WHEN k3 IS NOT NULL THEN 3
        |              WHEN k2 IS NOT NULL THEN 2
        |              WHEN k1 IS NOT NULL THEN 1
        |              ELSE 0 END AS INT) AS funnel_depth
        |  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id))
        |SELECT funnel_depth, count(*) AS n_users
        |FROM depth GROUP BY funnel_depth""".stripMargin) { (s, d) =>
      ops.Funnel.depthHistogram(
        Tables.events(s, d).filter(col("ts") < lit("2024-01-03").cast("timestamp")),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"))
    },

    // Same funnel, bounded-buffer plan: per-(user, day) folds collapse to
    // state-transition mappings, composed per user — the skew-immune
    // variant for the 10⁸-events bot tail (see ops.Funnel scaladoc).
    // Exact, so it shares q_funnel's independent staged-mins oracle.
    q("q_funnel_segmented",
      """WITH f AS (
        |  SELECT user_id,
        |    ROW(CAST(ts AS TIMESTAMP), event_id) AS k, event_type
        |  FROM events WHERE ts < TIMESTAMP '2024-01-03'),
        |s1 AS (
        |  SELECT user_id, min(k) FILTER (WHERE event_type = 'view') AS k1
        |  FROM f GROUP BY user_id),
        |s2 AS (
        |  SELECT f.user_id,
        |    min(k) FILTER (WHERE event_type = 'click' AND k > k1) AS k2
        |  FROM f JOIN s1 USING (user_id) GROUP BY f.user_id),
        |s3 AS (
        |  SELECT f.user_id,
        |    min(k) FILTER (WHERE event_type = 'purchase' AND k > k2) AS k3
        |  FROM f JOIN s2 USING (user_id) GROUP BY f.user_id),
        |depth AS (
        |  SELECT s1.user_id,
        |    CAST(CASE WHEN k3 IS NOT NULL THEN 3
        |              WHEN k2 IS NOT NULL THEN 2
        |              WHEN k1 IS NOT NULL THEN 1
        |              ELSE 0 END AS INT) AS funnel_depth
        |  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id))
        |SELECT funnel_depth, count(*) AS n_users
        |FROM depth GROUP BY funnel_depth""".stripMargin) { (s, d) =>
      ops.Funnel.segmentedDepthHistogram(
        Tables.events(s, d).filter(col("ts") < lit("2024-01-03").cast("timestamp")),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), to_date(col("ts")))
    },

    // Retention / cohort analysis — the third of the classic event-
    // analytics trio (sessionize, funnel, retention): users cohorted by
    // their FIRST signup day, then counted distinct per (cohort day,
    // day offset) for the first week of activity. Two aggregations and one
    // join, all at user/day grain — the fact table never shuffles twice;
    // the per-user cohort scalar broadcasts back onto the events scan.
    q("q_retention",
      """WITH cohort AS (
        |  SELECT user_id,
        |    CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |activity AS (
        |  SELECT c.user_id, cohort_day,
        |    datediff('day', cohort_day, CAST(e.ts AS TIMESTAMP)::DATE) AS day_offset
        |  FROM events e JOIN cohort c ON e.user_id = c.user_id)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
        |  CAST(day_offset AS INT) AS day_offset,
        |  count(DISTINCT user_id) AS active_users
        |FROM activity
        |WHERE day_offset BETWEEN 0 AND 6
        |GROUP BY cohort_day, day_offset""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(col("ts")).cast("date").as("cohort_day"))
      ev.select(col("user_id").as("_uid"), col("ts"))
        .join(broadcast(cohort), col("_uid") === col("user_id"))
        .select(col("user_id"), col("cohort_day"),
          datediff(col("ts").cast("date"), col("cohort_day")).as("day_offset"))
        .filter(col("day_offset").between(0, 6))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
          col("day_offset").cast("int").as("day_offset"),
          col("active_users"))
    },

    // As-of join (the temporal-alignment operator Spark lacks): every click
    // matched to the user's most recent purchase at-or-before it. The
    // oracle is DuckDB's NATIVE ASOF JOIN — an independent implementation
    // of the same semantics — while the Spark side runs the merge
    // formulation in ops.AsOf (one shuffle + sort + running window; no
    // range-join pair explosion). Purchases are deduped per (user, ts)
    // first: duplicate-time as-of is ill-defined in both engines.
    q("q_asof_join",
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, CAST(ts AS TIMESTAMP))
        |SELECT c.user_id, c.click_id,
        |  strftime(c.cts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |  p.purchase_id,
        |  strftime(p.pts, '%Y-%m-%d %H:%M:%S') AS purchase_time
        |FROM clicks c ASOF JOIN purch p
        |  ON c.user_id = p.user_id AND c.cts >= p.pts""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.ops.AsOf.asofJoin(clicks, purchases, "user_id", "ts")
        .select(col("user_id"), col("click_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
          col("purchase_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_time"))
    },

    // Interval OVERLAP join (Interval.overlapJoin): per-(user, day)
    // activity intervals × per-(type, day) activity intervals, matched on
    // true time overlap. The naive `lS < rE AND rS < lE` predicate has no
    // equi-key and nested-loops at scale; the operator bucketizes both
    // sides into 1-hour buckets, equi-joins per bucket, and the
    // first-common-bucket rule keeps each pair exactly once with no
    // distinct pass (IntervalSpec pins ≡ brute force across widths and
    // the no-nested-loop plan). Oracle: the same derived intervals
    // through the plain overlap predicate.
    q("q_interval_join",
      """WITH l AS (
        |  SELECT user_id, epoch_us(min(CAST(ts AS TIMESTAMP))) AS ls,
        |         epoch_us(max(CAST(ts AS TIMESTAMP))) + 1 AS le
        |  FROM events WHERE user_id < 50
        |  GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)),
        |r AS (
        |  SELECT event_type, epoch_us(min(CAST(ts AS TIMESTAMP))) AS rs,
        |         epoch_us(max(CAST(ts AS TIMESTAMP))) + 1 AS re
        |  FROM events GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)),
        |o AS (
        |  SELECT l.user_id, r.event_type,
        |    least(le, re) - greatest(ls, rs) AS ov
        |  FROM l JOIN r ON ls < re AND rs < le)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  CAST(sum(ov) AS BIGINT) AS total_overlap_us,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM o GROUP BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val lefts = ev.filter(col("user_id") < 50)
        .groupBy(col("user_id"), to_date(col("ts")).as("_ld"))
        .agg(unix_micros(min(col("ts"))).as("ls"),
          (unix_micros(max(col("ts"))) + 1L).as("le"))
        .select(col("user_id"), col("ls"), col("le"))
      val rights = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("_rd"))
        .agg(unix_micros(min(col("ts"))).as("rs"),
          (unix_micros(max(col("ts"))) + 1L).as("re"))
        .select(col("event_type"), col("rs"), col("re"))
      graft.ops.Interval.overlapJoinWithLength(
          lefts, "ls", "le", rights, "rs", "re", bucketWidth = 3600L * 1000000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("overlap_len")).as("total_overlap_us"),
          count_distinct(col("event_type")).as("n_types"))
    },

    q("q_pivot",
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    },

    // Equal-width histogram via width_bucket — the distribution-profiling
    // primitive (both engines implement the same SQL-standard bucketing:
    // bin i covers [lo + (i-1)·w, lo + i·w), out-of-range clamps to 0 /
    // n+1). Fixed literal bounds keep the bin edges engine-identical; one
    // scan, partial+final count agg.
    // Per-lang length outliers: |z| > 2 on n_chars under exact integer
    // moment sums (μ, σ, z bit-identical cross-engine; arithmetic shapes
    // mirrored verbatim incl. the repeated μ factor).
    q("q_length_outliers",
      """WITH s AS (
        |  SELECT lang, count(*) AS n, sum(n_chars) AS sx,
        |    sum(n_chars * n_chars) AS sxx
        |  FROM documents GROUP BY lang),
        |st AS (
        |  SELECT lang, CAST(sx AS DOUBLE) / n AS mu,
        |    sqrt(CAST(sxx AS DOUBLE) / n
        |      - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS sigma
        |  FROM s)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  round((CAST(d.n_chars AS DOUBLE) - mu) / nullif(sigma, 0), 6) AS z
        |FROM documents d JOIN st USING (lang)
        |WHERE abs((CAST(d.n_chars AS DOUBLE) - mu) / nullif(sigma, 0)) > 2""".stripMargin) { (s, d) =>
      ops.CorpusStats.zScores(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        "lang", "n_chars")
        .filter(abs(col("z")) > 2)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("z"), 6).as("z"))
    },

    // Equi-depth histogram over l_extendedprice: 8 buckets split at
    // approx_percentile octile boundaries (round 6 replaced the exact
    // full-column percentile — an unbounded aggregation buffer at corpus
    // scale and the repo's worst local ratio). WHICH boundary values a
    // GK sketch emits is implementation-specific, so the oracle compares
    // what IS engine-independent (validation-aggregate pattern, the
    // q_percentile_approx precedent): total rows, global min/max riding
    // out of the bucket lo/hi columns, all 8 buckets materialized, and
    // the sketch's stated depth contract — at accuracy 10000 each
    // boundary's rank error is ≤ n/10000, so every bucket depth sits
    // within 2n/10000 of the ideal n/8, far inside the 1 % gate checked
    // here.
    q("q_equidepth",
      """SELECT CAST(8 AS BIGINT) AS n_buckets,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(min(l_extendedprice), 6) AS lo_min,
        |  round(max(l_extendedprice), 6) AS hi_max,
        |  CAST(1 AS BOOLEAN) AS depth_within_1pct
        |FROM lineitem""".stripMargin) { (s, d) =>
      ops.CorpusStats.equiDepthHistogram(
        Tables.lineitem(s, d), "l_extendedprice", k = 8)
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_rows"),
          min(col("lo")).as("lo_min"), max(col("hi")).as("hi_max"),
          max(col("n")).as("_maxn"), min(col("n")).as("_minn"))
        .select(col("n_buckets"), col("n_rows"), col("lo_min"), col("hi_max"),
          (greatest(col("_maxn") - col("n_rows") / lit(8.0),
              col("n_rows") / lit(8.0) - col("_minn"))
            <= lit(0.01) * col("n_rows")).as("depth_within_1pct"))
    },

    q("q_histogram",
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
        |            WHEN o_totalprice >= 600000 THEN 13
        |            ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1
        |       END AS INT) AS bin,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS mass
        |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(width_bucket(col("o_totalprice"), lit(0), lit(600000), lit(12))
          .cast("int").as("bin"))
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("mass"))
    },

    // Single-scan column profiling — the data-quality sweep every ingest
    // runs first: per column null count, distinct count, min/max, all in
    // ONE aggregate pass (no per-column jobs). Distincts are exact here;
    // at 100 TB swap in approx_count_distinct per the q_approx_distinct
    // contract.
    // Corpus diversity: mean pairwise cosine over ALL n·(n−1) pairs via
    // the centroid-norm identity ‖Σv̂‖² − Σ‖v̂‖² — one O(n·d) pass, no
    // pair materialized. Integer-exact on the 10⁻⁶-quantized unit sphere:
    // per-dim sums are LONG/HUGEINT, squares DECIMAL, so both engines
    // compute the identical rational before one final double division.
    // Exact Gini concentration (CorpusStats.giniConcentration) of the
    // character mass across documents — the tie-safe rank identity on the
    // collapsed distinct-value grain, one integer division.
    q("q_gini",
      """WITH g AS (
        |  SELECT n_chars AS v, count(*) AS m FROM documents GROUP BY n_chars),
        |r AS (
        |  SELECT v, m,
        |    coalesce(sum(m) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
        |  FROM g),
        |s AS (
        |  SELECT CAST(sum(m) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(v AS HUGEINT) * m) AS BIGINT) AS total,
        |    sum(CAST(v AS HUGEINT) * m * (2 * a + m + 1)) AS rs
        |  FROM r)
        |SELECT n_rows, total,
        |  round(CAST(rs - (CAST(n_rows AS HUGEINT) + 1) * total AS DOUBLE)
        |    / CAST(CAST(n_rows AS HUGEINT) * total AS DOUBLE), 6) AS gini
        |FROM s WHERE total > 0""".stripMargin) { (s, d) =>
      ops.CorpusStats.giniConcentration(Tables.documents(s, d), "n_chars")
    },

    // Top-k collocations by PMI (CorpusStats.pmiCollocations), reported as
    // lift = exp(PMI) so the score is pure integer-count arithmetic in one
    // IEEE-identical expression — no ln whose libm could differ between
    // engines. minCount 5 floors the classic singleton-pair pathology.
    q("q_pmi",
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> t <> '') AS tk
        |  FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM tok)
        |  GROUP BY w),
        |bg AS (
        |  SELECT tk[i+1] AS w1, tk[i+2] AS w2, count(*) AS c_xy
        |  FROM tok, unnest(range(0, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2 GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST((SELECT sum(c) FROM uni) AS BIGINT) AS ntok,
        |         CAST((SELECT sum(c_xy) FROM bg) AS BIGINT) AS nbg)
        |SELECT w1, w2, c_xy, a.c AS c_x, b.c AS c_y,
        |  round(CAST(c_xy AS DOUBLE) * CAST(ntok AS DOUBLE) * CAST(ntok AS DOUBLE)
        |    / (CAST(nbg AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)),
        |    6) AS lift
        |FROM bg JOIN uni a ON a.w = w1 JOIN uni b ON b.w = w2, tot
        |WHERE c_xy >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
      ops.CorpusStats.pmiCollocations(Tables.documents(s, d), "text",
        minCount = 5, topK = 20)
    },

    // Fixed-round k-core peel (Graph.kCore) over the STRONG item
    // co-occurrence graph (pairs sharing ≥ 40 capped users): repeatedly
    // delete items with < 15 strong partners — the dense heart of the
    // catalog. Rounds = 3 covers this graph's full peel cascade (the
    // third round is a verified no-op); the oracle unrolls the identical
    // peel.
    q("q_kcore", kCoreOracle(k = 15, rounds = 3)) { (s, d) =>
      val ui = Tables.events(s, d)
        .select(col("user_id").as("_u"),
          get_json_object(col("props"), "$.k").cast("int").as("_i"))
        .filter(col("_i").isNotNull).distinct()
      val e = ui.select(col("_u"), col("_i").as("item_a"))
        .join(ui.select(col("_u"), col("_i").as("item_b")), Seq("_u"))
        .filter(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("_n")).filter(col("_n") >= 40)
      ops.Graph.kCore(e, "item_a", "item_b", k = 15, rounds = 3)
    },

    // Multi-source BFS hop distance (Graph.bfsDistances) over the same
    // strong co-occurrence graph: distance from the seed items
    // (item % 10 = 3) by level-synchronous frontier expansion — one
    // edge-vs-frontier equi-join + settled anti-join per hop, node-grain
    // state, no transitive-closure pair explosion. maxHops = 3; the
    // oracle unrolls the identical expansion.
    q("q_bfs_distance", bfsOracle(maxHops = 3)) { (s, d) =>
      val ui = Tables.events(s, d)
        .select(col("user_id").as("_u"),
          get_json_object(col("props"), "$.k").cast("int").as("_i"))
        .filter(col("_i").isNotNull).distinct()
      val e = ui.select(col("_u"), col("_i").as("item_a"))
        .join(ui.select(col("_u"), col("_i").as("item_b")), Seq("_u"))
        .filter(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("_n")).filter(col("_n") >= 40)
      val nodes = e.select(col("item_a").as("id"))
        .unionByName(e.select(col("item_b").as("id"))).distinct()
      ops.Graph.bfsDistances(e, "item_a", "item_b",
        nodes.filter(pmod(col("id"), lit(10)) === 3), "id", maxHops = 3)
    },

    // Fixed-round synchronous label propagation (Graph.lpaCommunities)
    // over the same strong co-occurrence graph: every node adopts its
    // neighbors' most frequent label, ties to the SMALLEST label — the
    // deterministic tie-break that lets the oracle unroll the identical
    // propagation (the q_pagerank stance; random-tie LPA would be
    // unverifiable). Three rounds; communities are label values.
    q("q_lpa", lpaOracle(rounds = 3)) { (s, d) =>
      val ui = Tables.events(s, d)
        .select(col("user_id").as("_u"),
          get_json_object(col("props"), "$.k").cast("int").as("_i"))
        .filter(col("_i").isNotNull).distinct()
      val e = ui.select(col("_u"), col("_i").as("item_a"))
        .join(ui.select(col("_u"), col("_i").as("item_b")), Seq("_u"))
        .filter(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("_n")).filter(col("_n") >= 40)
      ops.Graph.lpaCommunities(e, "item_a", "item_b", rounds = 3)
    },

    // Two-phase star connected components (Graph.componentsStar;
    // Kiveris et al. 2014) on a planted LONG-CHAIN graph — the shape
    // min-label propagation pays O(diameter) rounds on and the star
    // contraction collapses in O(log): documents chain consecutively
    // inside groups of 50 (plus a shortcut edge per group and a
    // self-pair per id so every id participates). Labels at convergence
    // are structure-determined — cluster_id = the group's base id — so
    // the oracle is an INDEPENDENT arithmetic restatement, not a
    // replay: stronger than trajectory-matching, still hash-exact.
    q("q_components_star",
      """SELECT doc_id AS id, doc_id - doc_id % 50 AS cluster_id
        |FROM documents""".stripMargin) { (s, d) =>
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val chain = ids.select(col("doc_id").as("id_a"))
        .filter(pmod(col("id_a"), lit(50)) =!= 49)
        .join(ids.select(col("doc_id").as("id_b")),
          col("id_b") === col("id_a") + 1)
      val shortcut = ids.select(col("doc_id").as("id_a"))
        .filter(pmod(col("id_a"), lit(50)) === 9)
        .select(col("id_a"), (col("id_a") - 9L).as("id_b"))
      val selfPairs = ids.select(col("doc_id").as("id_a"),
        col("doc_id").as("id_b"))
      ops.Graph.componentsStar(
        chain.unionByName(shortcut).unionByName(selfPairs))
    },

    // INCREMENTAL components (Graph.incrementalComponents): the
    // continuous-ingest clustering shape — yesterday's labels (a
    // node-grain star compression of every pair ever seen) plus today's
    // delta pairs re-contract to the updated labels without touching the
    // old pair set. Planted: the 50-chains split at position 24/25 into
    // two half-chains (the BASE run), and the delta is exactly the
    // bridge edges — so the incremental result must heal every chain to
    // its group base, restated arithmetically.
    q("q_incremental_components",
      """SELECT doc_id AS id, doc_id - doc_id % 50 AS cluster_id
        |FROM documents""".stripMargin) { (s, d) =>
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val basePairs = ids.select(col("doc_id").as("id_a"))
        .filter(pmod(col("id_a"), lit(50)) =!= 49 &&
          pmod(col("id_a"), lit(50)) =!= 24)
        .join(ids.select(col("doc_id").as("id_b")),
          col("id_b") === col("id_a") + 1)
        .unionByName(ids.select(col("doc_id").as("id_a"),
          col("doc_id").as("id_b")))
      val delta = ids.select(col("doc_id").as("id_a"))
        .filter(pmod(col("id_a"), lit(50)) === 24)
        .join(ids.select(col("doc_id").as("id_b")),
          col("id_b") === col("id_a") + 1)
      val standing = ops.Graph.componentsStar(basePairs)
      ops.Graph.incrementalComponents(standing, delta)
    },

    // Near-dup CLUSTERING through the star scale-form — the composite a
    // 100 TB dedup pipeline actually runs (pairs are not the deliverable;
    // keeper groups are): the q_image_neardup perceptual-hash machinery
    // (image synthesis → dHash → chunk-blocked Hamming join) produces the
    // within-family pair set, and componentsStar contracts it to
    // (id, cluster_id) in O(log) rounds. Families are planted by id
    // arithmetic, so the cluster labels are INDEPENDENTLY restatable:
    // cluster_id = min member of the family = doc_id % nFam.
    q("q_neardup_clusters",
      """SELECT doc_id AS id,
        |  doc_id % (SELECT CAST(greatest(count(*) // 10, 1) AS BIGINT)
        |            FROM documents) AS cluster_id
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nFam = indexArtifact(s"img-nfam:$d") {
        java.lang.Long.valueOf(math.max(1L, docs.count() / 10))
      }.longValue()
      val media = graft.multimodal.Multimodal.syntheticImages(docs, "doc_id", nFam)
      val pairs = graft.multimodal.Multimodal.imageNearDups(media, maxHamming = 6)
        .select(col("id_a"), col("id_b"))
      ops.Graph.componentsStar(pairs)
        .select(col("id"), col("cluster_id"))
    },

    // Integer-exact damped PageRank (Graph.pageRank) over the word
    // co-occurrence graph (adjacent-bigram counts as weighted edges,
    // CorpusStats.bigramCounts). Ranks are scale-10⁹ longs with per-edge
    // floored contributions, so all three iterations replay bit-for-bit;
    // the oracle unrolls the identical recursion as chained CTEs (one
    // edge-join + dst-aggregate pair per iteration — the same shape the
    // Spark plan runs distributed).
    q("q_pagerank", pageRankOracle(iters = 3)) { (s, d) =>
      ops.Graph.pageRank(
        ops.CorpusStats.bigramCounts(Tables.documents(s, d), "text"),
        "w1", "w2", "c_xy", iterations = 3)
    },

    // Per-node triangle counts (Graph.triangleCounts) on the word
    // co-occurrence graph. Spark runs the degree-ordered wedge algorithm
    // (each triangle found once at its min-rank apex); the oracle is the
    // independent lexicographic triple-join — different algorithm, same
    // exact counts.
    q("q_triangles",
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> t <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT tk[i+1] AS w1, tk[i+2] AS w2
        |  FROM tok, unnest(range(0, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |e AS (
        |  SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
        |  FROM bg WHERE w1 <> w2),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        |GROUP BY node""".stripMargin) { (s, d) =>
      ops.Graph.triangleCounts(
        ops.CorpusStats.bigramCounts(Tables.documents(s, d), "text"),
        "w1", "w2")
    },

    q("q_corpus_diversity",
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |nr AS (SELECT * FROM (
        |        SELECT v, sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS nm
        |        FROM e) WHERE nm > 0),
        |qd AS (SELECT i, CAST(round(v[i]/nm*1000000.0) AS BIGINT) AS q
        |       FROM nr, unnest(range(1, len(v)+1)) u(i)),
        |dims AS (SELECT i, sum(q) AS s, sum(q::HUGEINT * q::HUGEINT) AS sf,
        |                count(*) AS cnt
        |         FROM qd GROUP BY i),
        |tot AS (SELECT sum(s::HUGEINT * s::HUGEINT) AS ss, sum(sf) AS selfss,
        |        CAST(count(*) AS INT) AS dim, CAST(max(cnt) AS BIGINT) AS n
        |        FROM dims)
        |SELECT n, dim,
        |  round((CAST(ss AS DOUBLE) - CAST(selfss AS DOUBLE)) / 1e12
        |    / nullif(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0), 0.0), 6)
        |    AS avg_pairwise_cos
        |FROM tot""".stripMargin) { (s, d) =>
      ops.CorpusStats.corpusDiversity(Tables.embeddings(s, d), "embedding")
    },

    // Vocabulary KL drift KL(en ‖ rest): add-1 smoothed over the joint
    // vocab, counts×ln-micro accumulated as exact integers, final
    // division rounds once in micro-units (the bigram-LM half-case
    // discipline).
    q("q_vocab_kl",
      """WITH ex AS (
        |  SELECT lang = 'en' AS p,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) AS w
        |  FROM documents),
        |c AS (SELECT w, sum(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |             sum(CASE WHEN p THEN 0 ELSE 1 END) AS cq
        |      FROM ex GROUP BY w),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(cp) AS BIGINT) AS tp,
        |             CAST(sum(cq) AS BIGINT) AS tq FROM c),
        |s AS (SELECT sum((cp + 1)::HUGEINT *
        |        (CAST(round(ln((CAST(cp AS DOUBLE)+1.0)
        |           /(CAST(tp AS DOUBLE)+CAST(v AS DOUBLE)))*1000000.0) AS BIGINT)
        |       - CAST(round(ln((CAST(cq AS DOUBLE)+1.0)
        |           /(CAST(tq AS DOUBLE)+CAST(v AS DOUBLE)))*1000000.0) AS BIGINT))::HUGEINT)
        |        AS sm
        |      FROM c, t)
        |SELECT t.v AS n_vocab, t.tp AS p_tokens, t.tq AS q_tokens,
        |  CAST(round(CAST(sm AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(v AS DOUBLE)))
        |    AS BIGINT)/1000000.0 AS kl_nats
        |FROM s, t""".stripMargin) { (s, d) =>
      ops.CorpusStats.vocabKl(Tables.documents(s, d), "text",
        col("lang") === "en")
    },

    // Jensen-Shannon divergence (CorpusStats.vocabJs): q_vocab_kl's
    // symmetric bounded sibling over the same en-vs-rest split -- per-word
    // micro-log LONGs against the MIXTURE m = (p+q)/2, two exact
    // DECIMAL38 side sums, each divided once by its smoothed mass in
    // integer micro-units, averaged.
    q("q_vocab_js",
      """WITH ex AS (
        |  SELECT lang = 'en' AS p,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) AS w
        |  FROM documents),
        |c AS (SELECT w, sum(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |             sum(CASE WHEN p THEN 0 ELSE 1 END) AS cq
        |      FROM ex GROUP BY w),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(cp) AS BIGINT) AS tp,
        |             CAST(sum(cq) AS BIGINT) AS tq FROM c),
        |l AS (SELECT cp, cq,
        |    CAST(round(ln((CAST(cp AS DOUBLE)+1.0)
        |       /(CAST(tp AS DOUBLE)+CAST(v AS DOUBLE)))*1000000.0) AS BIGINT) AS lp,
        |    CAST(round(ln((CAST(cq AS DOUBLE)+1.0)
        |       /(CAST(tq AS DOUBLE)+CAST(v AS DOUBLE)))*1000000.0) AS BIGINT) AS lq,
        |    CAST(round(ln(((CAST(cp AS DOUBLE)+1.0)
        |         /(CAST(tp AS DOUBLE)+CAST(v AS DOUBLE))
        |       + (CAST(cq AS DOUBLE)+1.0)
        |         /(CAST(tq AS DOUBLE)+CAST(v AS DOUBLE))) / 2.0)
        |      *1000000.0) AS BIGINT) AS lm
        |  FROM c, t),
        |s AS (SELECT sum((cp + 1)::HUGEINT * (lp - lm)::HUGEINT) AS ssp,
        |             sum((cq + 1)::HUGEINT * (lq - lm)::HUGEINT) AS ssq
        |      FROM l)
        |SELECT t.v AS n_vocab, t.tp AS p_tokens, t.tq AS q_tokens,
        |  (CAST(round(CAST(ssp AS DOUBLE)
        |      /(CAST(tp AS DOUBLE)+CAST(v AS DOUBLE))) AS BIGINT)
        |   + CAST(round(CAST(ssq AS DOUBLE)
        |      /(CAST(tq AS DOUBLE)+CAST(v AS DOUBLE))) AS BIGINT)) / 2000000.0
        |    AS js_nats
        |FROM s, t""".stripMargin) { (s, d) =>
      ops.CorpusStats.vocabJs(Tables.documents(s, d), "text",
        col("lang") === "en")
    },

    // Vocabulary drift through MATERIALIZED count-table artifacts
    // (CorpusStats.vocabCounts / vocabKlFromCounts): the ingest-lifecycle
    // question "has the delta drifted from the base?" answered from two
    // vocab-bounded (word, cnt) tables alone — the corpora are never
    // rescanned (a standing pipeline materializes one count table per
    // slice; mergeVocabCounts folds them). Identical math to q_vocab_kl
    // (the full-outer join supplies the zeros the one-pass predicate form
    // produces implicitly), so the oracle is the same KL restated over
    // the base/delta split.
    q("q_vocab_drift",
      """WITH ex AS (
        |  SELECT doc_id % 3 <> 0 AS p,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) AS w
        |  FROM documents),
        |c AS (SELECT w, sum(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |             sum(CASE WHEN p THEN 0 ELSE 1 END) AS cq
        |      FROM ex GROUP BY w),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(cp) AS BIGINT) AS tp,
        |             CAST(sum(cq) AS BIGINT) AS tq FROM c),
        |s AS (SELECT sum((cp + 1)::HUGEINT *
        |        (CAST(round(ln((CAST(cp AS DOUBLE)+1.0)
        |           /(CAST(tp AS DOUBLE)+CAST(v AS DOUBLE)))*1000000.0) AS BIGINT)
        |       - CAST(round(ln((CAST(cq AS DOUBLE)+1.0)
        |           /(CAST(tq AS DOUBLE)+CAST(v AS DOUBLE)))*1000000.0) AS BIGINT))::HUGEINT)
        |        AS sm
        |      FROM c, t)
        |SELECT t.v AS n_vocab, t.tp AS p_tokens, t.tq AS q_tokens,
        |  CAST(round(CAST(sm AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(v AS DOUBLE)))
        |    AS BIGINT)/1000000.0 AS kl_nats
        |FROM s, t""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      ops.CorpusStats.vocabKlFromCounts(
        ops.CorpusStats.vocabCounts(docs.filter(col("doc_id") % 3 =!= 0), "text"),
        ops.CorpusStats.vocabCounts(docs.filter(col("doc_id") % 3 === 0), "text"))
    },

    // Tokenizer-coverage stat: per-document OOV rate against the corpus'
    // own top-500 word vocabulary (count DESC, word ASC tie-break — the
    // deterministic cut both engines reproduce). Scale shape: top-k vocab
    // via TakeOrdered (never a global sort), broadcast membership probe;
    // bodies shuffle zero times (CorpusStats.scala:236).
    q("q_oov_rate",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT w, 1 AS in_v FROM (
        |    SELECT w, count(*) AS c FROM tok GROUP BY w
        |    ORDER BY c DESC, w LIMIT 500))
        |SELECT tok.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN in_v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(CAST(sum(CASE WHEN in_v IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS oov_rate
        |FROM tok LEFT JOIN vocab ON tok.w = vocab.w
        |GROUP BY tok.doc_id""".stripMargin) { (s, d) =>
      ops.CorpusStats.oovRate(Tables.documents(s, d), "text", "doc_id", 500)
    },

    // Referential-integrity audit across the star schema: per FK
    // relationship, row/null-FK/orphan counts via left-outer probes
    // against the distinct key set (dimension keys broadcast; the fact
    // side never shuffles). The data-quality gate a warehouse runs before
    // trusting a snapshot — all counts exact.
    q("q_integrity",
      """SELECT 'lineitem->orders' AS relationship,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_fk,
        |  CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON o.o_orderkey = l.l_orderkey
        |UNION ALL
        |SELECT 'lineitem->part', count(*),
        |  CAST(sum(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        |  ON p.p_partkey = l.l_partkey
        |UNION ALL
        |SELECT 'orders->customer', count(*),
        |  CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON c.c_custkey = o.o_custkey
        |UNION ALL
        |SELECT 'customer->nation', count(*),
        |  CAST(sum(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN c.c_nationkey IS NOT NULL AND n.n_nationkey IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        |  ON n.n_nationkey = c.c_nationkey""".stripMargin) { (s, d) =>
      def audit(rel: String, fact: DataFrame, fk: String,
                dim: DataFrame, pk: String): DataFrame =
        fact.select(col(fk).cast("long").as("_fk"))
          .join(broadcast(dim.select(col(pk).cast("long").as("_fk")).distinct()
            .withColumn("_hit", lit(1))), Seq("_fk"), "left_outer")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("_fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
            sum(when(col("_fk").isNotNull && col("_hit").isNull, 1L)
              .otherwise(0L)).as("n_orphans"))
          .select(lit(rel).as("relationship"), col("n_rows"),
            col("n_null_fk"), col("n_orphans"))
      audit("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey")
        .unionByName(audit("lineitem->part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionByName(audit("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .unionByName(audit("customer->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey"))
    },

    q("q_profile",
      """SELECT count(*) AS n_rows,
        |  CAST(count(*) - count(l_partkey) AS BIGINT) AS partkey_nulls,
        |  count(DISTINCT l_partkey) AS partkey_distinct,
        |  CAST(min(l_partkey) AS BIGINT) AS partkey_min,
        |  CAST(max(l_partkey) AS BIGINT) AS partkey_max,
        |  CAST(count(*) - count(l_quantity) AS BIGINT) AS qty_nulls,
        |  count(DISTINCT CAST(round(l_quantity * 100) AS BIGINT)) AS qty_distinct,
        |  CAST(round(min(l_quantity) * 100) AS BIGINT) AS qty_min_c,
        |  CAST(round(max(l_quantity) * 100) AS BIGINT) AS qty_max_c,
        |  count(DISTINCT l_returnflag) AS flag_distinct
        |FROM lineitem""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("l_partkey"))).as("partkey_nulls"),
        countDistinct(col("l_partkey")).as("partkey_distinct"),
        min(col("l_partkey")).as("partkey_min"),
        max(col("l_partkey")).as("partkey_max"),
        (count(lit(1)) - count(col("l_quantity"))).as("qty_nulls"),
        countDistinct(roundAway(col("l_quantity") * 100).cast("long"))
          .as("qty_distinct"),
        roundAway(min(col("l_quantity")) * 100).cast("long").as("qty_min_c"),
        roundAway(max(col("l_quantity")) * 100).cast("long").as("qty_max_c"),
        countDistinct(col("l_returnflag")).as("flag_distinct"))
    },

    q("q_percentile",
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
        |  round(max(o_totalprice), 2) AS p_max
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
      // exact percentile with linear interpolation — same estimator
      // (quantile type 7) as DuckDB's quantile_cont
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"),
          round(max(col("o_totalprice")), 2).as("p_max"))
    },

    // The SCALE percentile, next to the exact one above: exact percentile()
    // buffers every group value in memory — the OOM shape at a hot group —
    // while approx_percentile keeps a bounded sketch per group. The oracle
    // hash-compares the exact median and states the sketch's accuracy
    // contract (validation-aggregate pattern); at accuracy 10000 the rank
    // error is ≤ n/10000 rows, far inside the 1 % value bound here.
    q("q_percentile_approx",
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
        |  CAST(1 AS BOOLEAN) AS approx_within_1pct
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("_exact"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("_approx"))
        .select(col("o_orderstatus"),
          round(col("_exact"), 2).as("p50_exact"),
          (abs(col("_approx") - col("_exact")) <= lit(0.01) * col("_exact"))
            .as("approx_within_1pct"))
    },

    // Oracle-checked since round 3 via the validation-aggregate pattern: the
    // HLL++ estimate is Spark-implementation-specific, but its contract —
    // within the configured relative error of the exact count — is engine-
    // independent. rsd = 0.05; the check allows 2× that. The exact count
    // rides along and is hash-compared as a plain value.
    q("q_approx_distinct",
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  CAST(1 AS BOOLEAN) AS within_2rsd
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .agg(approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            lit(0.10) * col("exact_parts")).as("within_2rsd"))
    },

    // Mergeable distinct-count sketches (DataSketches HLL): per-slice
    // sketches UNION to the corpus answer without rescanning history — the
    // cardinality member of the engine's additive-artifact family
    // (bm25Stats row, minhash band table). The union is register-lossless,
    // but DataSketches estimates a streamed sketch with HIP and a union
    // with the composite estimator, so the two values may differ by a few
    // counts in dense mode — the honest mergeability contract, pinned
    // here, is that BOTH estimates sit inside the lgK=12 error envelope of
    // the exact count DuckDB computes (±5 % is ≈6 standard errors at
    // lgK=12; both engines emit the booleans as constants-by-contract)
    // (CorpusStats.distinctSketches / distinctFromSketches).
    q("q_distinct_sketch",
      """SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact,
        |  true AS merged_rel_err_ok, true AS global_rel_err_ok
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val slices = ops.CorpusStats.distinctSketches(
        docs.withColumn("_slice", pmod(col("doc_id"), lit(4))), "text", "_slice")
      val merged = ops.CorpusStats.distinctFromSketches(slices)
      val globalEst = docs.agg(
        hll_sketch_estimate(hll_sketch_agg(col("text"), lit(12))).as("_g"))
      val exact = docs.agg(countDistinct(col("text")).as("n_exact"))
      def errOk(c: Column): Column =
        abs(c.cast("double") / col("n_exact").cast("double") - lit(1.0)) <= lit(0.05)
      merged.crossJoin(globalEst).crossJoin(exact)
        .select(col("n_exact"),
          errOk(col("n_estimate")).as("merged_rel_err_ok"),
          errOk(col("_g")).as("global_rel_err_ok"))
    },

    // Mergeable quantile sketches (DataSketches KLL via graft's own
    // TypedImperativeAggregate surface — kll_sketch_agg/kll_union_agg/
    // kll_quantile): per-slice sketches union to corpus-wide percentiles
    // without rescanning history, the rank member of the additive-artifact
    // family beside q_distinct_sketch. The oracle pins what is engine-
    // independent: the EXACT interpolated quantiles (percentile ≡
    // quantile_cont, both linear interpolation over the same doubles) and
    // the KLL contract that the merged estimate's EXACT rank sits within
    // 2ε of the target (ε ≈ 1.65 % at k=200, 99 % conf — Spark recomputes
    // the exact rank of its own estimates and emits the boolean).
    q("q_quantile_sketch",
      """WITH q AS (
        |  SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE),
        |                       [0.25, 0.5, 0.75, 0.95]) AS qs
        |  FROM lineitem)
        |SELECT CAST(CASE i WHEN 1 THEN 0.25 WHEN 2 THEN 0.5
        |              WHEN 3 THEN 0.75 ELSE 0.95 END AS DOUBLE) AS p,
        |  round(qs[i], 6) AS exact_q, true AS rank_ok
        |FROM q, unnest([1, 2, 3, 4]) AS t(i)""".stripMargin) { (s, d) =>
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      // the 2-column projection materializes ONCE (localCheckpoint, the
      // bpeMerges stance); the three verification passes — sketch build,
      // exact percentile, rank check — scan the checkpointed rows
      // instead of re-reading parquet three times
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("x"),
          pmod(col("l_orderkey"), lit(8)).as("_slice"))
        .localCheckpoint(true)
      val slices = ops.CorpusStats.quantileSketches(li, "x", "_slice")
      // the estimate is a |ps|-row BOUNDED artifact: collect it and fold
      // the rank check into ONE conditional aggregate — no crossJoin row
      // expansion, one scan for all four ranks
      val est = ops.CorpusStats.quantilesFromSketches(slices, ps)
        .orderBy("p").collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      // exact percentiles via the sort-selection op (Spark's built-in
      // `percentile` boxes every value into a per-group hash map —
      // measured 1.9 s where the sort path takes ~0.4 s); the sketch-rank
      // verification counts fold into the op's counting pass for free
      val (exactQ, leCounts) = ops.CorpusStats.exactQuantiles(
        li, "x", ps, countAtOrBelow = est.map(_._2))
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val out = ps.indices.map { i =>
        val (p, _, n) = est(i)
        (p, r6(exactQ(i)), math.abs(leCounts(i).toDouble / n - p) <= 0.033)
      }
      s.createDataFrame(out).toDF("p", "exact_q", "rank_ok")
    },

    // Point-in-time join (Funnel.pointInTimeJoin): each purchase probe,
    // shifted +30 minutes, enriched with the SCD2 version ACTIVE at that
    // instant. The oracle is the DEFINITION — the interval join
    // valid_from ≤ t < valid_to over an independently-built history —
    // while Spark runs the collapsed as-of plan (one shuffle+sort, no
    // interval machinery), a cross-engine proof the two are equivalent
    // on a contiguous history.
    q("q_pit_join",
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id
        |  FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |h AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS vf,
        |    lead(CAST(ts AS TIMESTAMP)) OVER w AS vt,
        |    CAST(row_number() OVER w AS INT) AS version
        |  FROM ch
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS pts,
        |    event_id AS probe_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.probe_id,
        |  h.event_type AS active_event_type, h.version
        |FROM p JOIN h ON h.user_id = p.user_id
        |  AND h.vf <= p.pts AND (h.vt IS NULL OR p.pts < h.vt)""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val history = ops.Funnel.scd2History(ev, "user_id", "event_type",
        "ts", "event_id")
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("ts"),
          col("event_id").as("probe_id"))
      ops.Funnel.pointInTimeJoin(probes, history, "user_id", "ts", "event_type")
        .select(col("user_id"), col("probe_id"),
          col("active_event_type"), col("version"))
    },

    // Benford first-digit audit (CorpusStats.benfordAudit) over lineitem
    // prices: the fabricated-data detector. First digit from the scaled
    // integer's decimal string (no log10 float edge); the nine expected
    // shares are the SAME 17-digit literals on both engines.
    q("q_benford", {
      val pLits = ops.CorpusStats.benfordPLiterals
      val pCase = pLits.zipWithIndex.map { case (p, i) =>
        s"WHEN ${i + 1} THEN $p" }.mkString(" ")
      s"""WITH v AS (
         |  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
         |    AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM lineitem WHERE round(l_extendedprice * 100) > 0),
         |c AS (SELECT digit, count(*) AS n FROM v GROUP BY digit),
         |sp AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
         |j AS (
         |  SELECT sp.digit, coalesce(c.n, 0) AS n,
         |    CAST(CASE sp.digit $pCase END AS DOUBLE) AS p
         |  FROM sp LEFT JOIN c ON c.digit = sp.digit),
         |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM j),
         |pd AS (
         |  SELECT digit, n, p, total,
         |    (CAST(n AS DOUBLE) - total * p) * (CAST(n AS DOUBLE) - total * p)
         |      / (total * p) AS contrib
         |  FROM j, t)
         |SELECT digit, CAST(n AS BIGINT) AS n,
         |  round(CAST(n AS DOUBLE) / total, 6) AS obs_p,
         |  round(p, 6) AS exp_p, round(contrib, 6) AS chi2_contrib
         |FROM pd
         |UNION ALL
         |SELECT 0, CAST(sum(n) AS BIGINT), round(CAST(sum(n) AS DOUBLE) / max(total), 6),
         |  CAST(1.0 AS DOUBLE), round(sum(contrib), 6)
         |FROM pd""".stripMargin
    }) { (s, d) =>
      ops.CorpusStats.benfordAudit(Tables.lineitem(s, d), "l_extendedprice",
        scale = 2)
    },

    // Population Stability Index (CorpusStats.psi): value drift between
    // the base slices and the delta batch over the BASE's own decile
    // buckets — the production drift monitor (PSI < 0.1 stable). Cut
    // points from one exactQuantiles pass (round-6, bit-matching
    // quantile_cont), bucket counts exact integers, ≤ 11 float steps
    // before round-6.
    q("q_psi", {
      val chain = (1 to 9).map(i =>
        s"WHEN v <= round(qs[$i], 6) THEN $i").mkString(" ")
      s"""WITH basev AS (
         |  SELECT value AS v FROM events WHERE event_id % 8 <> 7 AND value IS NOT NULL),
         |curv AS (
         |  SELECT value AS v FROM events WHERE event_id % 8 = 7 AND value IS NOT NULL),
         |qb AS (SELECT quantile_cont(v, [${(1 to 9).map(i => s"0.$i").mkString(", ")}]) AS qs
         |       FROM basev),
         |bb AS (SELECT CASE $chain ELSE 10 END AS bucket FROM basev, qb),
         |cc AS (SELECT CASE $chain ELSE 10 END AS bucket FROM curv, qb),
         |jb AS (SELECT bucket, count(*) AS n_base FROM bb GROUP BY bucket),
         |jc AS (SELECT bucket, count(*) AS n_cur FROM cc GROUP BY bucket),
         |sp AS (SELECT CAST(range AS INT) AS bucket FROM range(1, 11)),
         |j AS (
         |  SELECT sp.bucket,
         |    coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
         |  FROM sp LEFT JOIN jb ON sp.bucket = jb.bucket
         |          LEFT JOIN jc ON sp.bucket = jc.bucket),
         |t AS (SELECT sum(n_base) AS tnb, sum(n_cur) AS tnc FROM j),
         |pb AS (
         |  SELECT bucket, n_base, n_cur,
         |    CAST(n_base + 1 AS DOUBLE) / (tnb + 10) AS p,
         |    CAST(n_cur + 1 AS DOUBLE) / (tnc + 10) AS q
         |  FROM j, t)
         |SELECT bucket, CAST(n_base AS BIGINT) AS n_base,
         |  CAST(n_cur AS BIGINT) AS n_cur,
         |  round((p - q) * (ln(p) - ln(q)), 6) AS contrib
         |FROM pb
         |UNION ALL
         |SELECT 0, CAST(sum(n_base) AS BIGINT), CAST(sum(n_cur) AS BIGINT),
         |  round(sum((p - q) * (ln(p) - ln(q))), 6)
         |FROM pb""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      ops.CorpusStats.psi(
        ev.filter(pmod(col("event_id"), lit(8)) =!= 7).select(col("value")),
        ev.filter(pmod(col("event_id"), lit(8)) === 7).select(col("value")),
        "value", nBuckets = 10)
    },

    // Two-sample Kolmogorov-Smirnov drift (CorpusStats.ksStatistic) over
    // the SAME base/current split as q_psi -- the bucket-free shape test
    // next to PSI's binned divergence. Values quantize to the cents grid
    // (roundAway, the benford convention) so the distinct-value grain is
    // bounded; D is maximized in exact DECIMAL(38) cross-products, one
    // double division at the end.
    q("q_ks_test",
      """WITH av AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE event_id % 8 <> 7 AND value IS NOT NULL),
        |bv AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE event_id % 8 = 7 AND value IS NOT NULL),
        |g AS (
        |  SELECT v, sum(ma) AS ma, sum(mb) AS mb FROM (
        |    SELECT v, 1 AS ma, 0 AS mb FROM av
        |    UNION ALL SELECT v, 0 AS ma, 1 AS mb FROM bv)
        |  GROUP BY v),
        |c AS (
        |  SELECT
        |    sum(ma) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(mb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    sum(ma) OVER () AS na, sum(mb) OVER () AS nb
        |  FROM g)
        |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  round(CAST(max(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) AS DOUBLE)
        |    / CAST(CAST(max(na) AS HUGEINT) * max(nb) AS DOUBLE), 6) AS ks
        |FROM c""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          roundAway(col("value") * 100).cast("long").as("v_cents"))
      ops.CorpusStats.ksStatistic(
        ev.filter(pmod(col("event_id"), lit(8)) =!= 7).select(col("v_cents")),
        ev.filter(pmod(col("event_id"), lit(8)) === 7).select(col("v_cents")),
        "v_cents")
    },

    // Per-source one-vs-rest KS + Benjamini-Hochberg FDR (CorpusStats.
    // ksStatisticBy -> bhAdjust): which sources' n_chars distributions
    // diverge from the rest, FDR-0.05-controlled. D maximized in exact
    // DECIMAL38 over the dense |groups| x |values| collapsed-grain frame;
    // asymptotic p micro-rounded; the BH reject rule is the EXACT integer
    // comparison p_micro*m <= i*alpha_micro; adjusted p a suffix running
    // min over exact longs.
    q("q_fdr_drift",
      """WITH base AS (
        |  SELECT source AS g, n_chars AS v FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |gv AS (SELECT g, v, count(*) AS mg FROM base GROUP BY g, v),
        |vals AS (
        |  SELECT v, sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM (SELECT v, count(*) AS cnt FROM base GROUP BY v)),
        |groups AS (SELECT g, count(*) AS ng FROM base GROUP BY g),
        |tot AS (SELECT count(*) AS n FROM base),
        |dense AS (
        |  SELECT gr.g, va.v, va.c, gr.ng, coalesce(gv.mg, 0) AS mg
        |  FROM vals va CROSS JOIN groups gr
        |  LEFT JOIN gv ON gv.g = gr.g AND gv.v = va.v),
        |cum AS (
        |  SELECT g, ng, c,
        |    sum(mg) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg
        |  FROM dense),
        |per AS (
        |  SELECT g, ng,
        |    max(abs(CAST(cg AS HUGEINT) * ((SELECT n FROM tot) - ng)
        |      - (CAST(c AS HUGEINT) - cg) * ng)) AS d
        |  FROM cum GROUP BY g, ng),
        |stat AS (
        |  SELECT g, ng AS n_a, (SELECT n FROM tot) - ng AS n_b,
        |    CAST(d AS DOUBLE) / CAST(CAST(ng AS HUGEINT)
        |      * ((SELECT n FROM tot) - ng) AS DOUBLE) AS ksraw
        |  FROM per WHERE (SELECT n FROM tot) - ng > 0),
        |pv AS (
        |  SELECT g, n_a, n_b, ksraw,
        |    CAST(round(least(1.0, 2.0 * exp(-2.0 * ksraw * ksraw
        |      * CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
        |      / CAST(n_a + n_b AS DOUBLE))) * 1e6) AS BIGINT) AS p_micro
        |  FROM stat),
        |mm AS (SELECT count(*) AS m FROM pv),
        |rk AS (
        |  SELECT g, n_a, n_b, ksraw, p_micro,
        |    row_number() OVER (ORDER BY p_micro, g) AS i
        |  FROM pv),
        |k2 AS (
        |  SELECT rk.*, (SELECT m FROM mm) AS m,
        |    CASE WHEN p_micro * (SELECT m FROM mm) <= i * 50000
        |      THEN i END AS passi
        |  FROM rk),
        |kstar AS (SELECT max(passi) AS ks FROM k2),
        |adj AS (
        |  SELECT g, n_a, n_b, ksraw, p_micro, i,
        |    least(1000000,
        |      min(CAST(round(CAST(p_micro * m AS DOUBLE) / i) AS BIGINT))
        |        OVER (ORDER BY p_micro, g
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS adjm
        |  FROM k2)
        |SELECT g AS source, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, round(ksraw, 6) AS ks,
        |  round(CAST(p_micro AS DOUBLE) / 1e6, 6) AS p,
        |  round(CAST(adjm AS DOUBLE) / 1e6, 6) AS p_adj,
        |  ((SELECT ks FROM kstar) IS NOT NULL
        |    AND i <= (SELECT ks FROM kstar)) AS rejected
        |FROM adj""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
      // group-grain stage boundary: the stats frame feeds both the BH
      // adjuster and the final join — without it the whole one-vs-rest
      // KS plan runs twice
      val stats = ops.CorpusStats.ksStatisticBy(docs, "source", "n_chars")
        .localCheckpoint(false)
      val bh = ops.CorpusStats.bhAdjust(stats, "source", "p_micro",
        alphaMicro = 50000L)
      stats.join(bh, Seq("source"))
        .select(col("source"), col("n_a"), col("n_b"), col("ks"),
          col("p"), col("p_adj"), col("rejected"))
    },

    // Mann-Whitney U (CorpusStats.mannWhitneyU) on q_ks_test's split --
    // the location-shift rank test next to KS's any-shape test: doubled
    // pooled midranks on the shared value grain, 2*U_a and the tie term
    // sum(t^3 - t) exact DECIMAL38/HUGEINT, the tie-corrected normal z
    // one fixed-shape IEEE expression over those integers.
    q("q_mann_whitney",
      """WITH av AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE event_id % 8 <> 7 AND value IS NOT NULL),
        |bv AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE event_id % 8 = 7 AND value IS NOT NULL),
        |g AS (
        |  SELECT v, sum(ma) AS ma, sum(mb) AS mb FROM (
        |    SELECT v, 1 AS ma, 0 AS mb FROM av
        |    UNION ALL SELECT v, 0 AS ma, 1 AS mb FROM bv)
        |  GROUP BY v),
        |r AS (
        |  SELECT ma, mb,
        |    2 * coalesce(sum(ma + mb) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (ma + mb) + 1 AS r2,
        |    CAST(ma + mb AS HUGEINT) * (ma + mb) * (ma + mb) - (ma + mb) AS t3
        |  FROM g),
        |s AS (
        |  SELECT sum(ma) AS na, sum(mb) AS nb,
        |    sum(CAST(ma AS HUGEINT) * r2) AS ra2, sum(t3) AS ties
        |  FROM r)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(ra2 - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) / 2.0 AS u_a,
        |  round(CAST(ra2 - CAST(na AS HUGEINT) * (na + 1)
        |        - CAST(na AS HUGEINT) * nb AS DOUBLE)
        |    / (2.0 * sqrt((CAST(CAST(na AS HUGEINT) * nb AS DOUBLE) / 12.0)
        |      * (CAST(na + nb + 1 AS DOUBLE)
        |        - CAST(ties AS DOUBLE)
        |          / CAST(CAST(na + nb AS HUGEINT) * (na + nb - 1) AS DOUBLE)))),
        |    6) AS z
        |FROM s""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          roundAway(col("value") * 100).cast("long").as("v_cents"))
      ops.CorpusStats.mannWhitneyU(
        ev.filter(pmod(col("event_id"), lit(8)) =!= 7).select(col("v_cents")),
        ev.filter(pmod(col("event_id"), lit(8)) === 7).select(col("v_cents")),
        "v_cents")
    },

    // 1-D Wasserstein-1 / EMD (CorpusStats.wasserstein1): magnitude-aware
    // drift between the web-source and non-web n_chars distributions --
    // sum |c_a*n_b - c_b*n_a| * gap over the sorted distinct-length grain,
    // exact DECIMAL38/HUGEINT, one divide by n_a*n_b at the end.
    q("q_emd",
      """WITH av AS (
        |  SELECT n_chars AS v FROM documents
        |  WHERE source = 'web' AND n_chars IS NOT NULL),
        |bv AS (
        |  SELECT n_chars AS v FROM documents
        |  WHERE source <> 'web' AND n_chars IS NOT NULL),
        |g AS (
        |  SELECT v, sum(ma) AS ma, sum(mb) AS mb FROM (
        |    SELECT v, 1 AS ma, 0 AS mb FROM av
        |    UNION ALL SELECT v, 0 AS ma, 1 AS mb FROM bv)
        |  GROUP BY v),
        |t AS (SELECT sum(ma) AS na, sum(mb) AS nb FROM g),
        |c AS (
        |  SELECT
        |    sum(ma) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(mb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    lead(v) OVER (ORDER BY v) - v AS gap
        |  FROM g),
        |w AS (
        |  SELECT coalesce(sum(abs(CAST(ca AS HUGEINT) * nb
        |      - CAST(cb AS HUGEINT) * na) * gap), 0) AS w
        |  FROM c, t WHERE gap IS NOT NULL)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(CAST(w AS DOUBLE)
        |    / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE), 6) AS emd
        |FROM t, w""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars"))
      ops.CorpusStats.wasserstein1(
        docs.filter(col("source") === "web").select(col("n_chars")),
        docs.filter(col("source") =!= "web").select(col("n_chars")),
        "n_chars")
    },

    // Embedding-centroid drift (CorpusStats.embeddingDrift): the vector
    // companion of q_psi — per-dimension micro-LONG sums per slice,
    // cosine computed scale-invariantly on the SUM vectors, mean shifts
    // on common-denominator integers sb·nc − sc·nb; DECIMAL(38)/HUGEINT
    // exact until one final sqrt/divide. One posexplode scan per slice
    // into a dim-grain broadcast-sized artifact.
    q("q_embedding_drift",
      """WITH ev AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |m AS (
        |  SELECT vec_id % 8 = 7 AS isc, i - 1 AS dim,
        |    CAST(round(v[i] * 1000000.0) AS BIGINT) AS m
        |  FROM ev, unnest(range(1, len(v)+1)) u(i)),
        |d AS (
        |  SELECT dim,
        |    sum(CASE WHEN NOT isc THEN m ELSE 0 END) AS sb,
        |    sum(CASE WHEN isc THEN m ELSE 0 END) AS sc
        |  FROM m GROUP BY dim),
        |n AS (
        |  SELECT sum(CASE WHEN vec_id % 8 <> 7 THEN 1 ELSE 0 END) AS nb,
        |    sum(CASE WHEN vec_id % 8 = 7 THEN 1 ELSE 0 END) AS nc
        |  FROM ev),
        |t AS (
        |  SELECT dim, sb, sc,
        |    CAST(sb AS HUGEINT) * nc - CAST(sc AS HUGEINT) * nb AS dnum
        |  FROM d, n),
        |a AS (
        |  SELECT max(nb) AS n_base, max(nc) AS n_cur,
        |    sum(CAST(sb AS HUGEINT) * sc) AS dot,
        |    sum(CAST(sb AS HUGEINT) * sb) AS b2,
        |    sum(CAST(sc AS HUGEINT) * sc) AS c2,
        |    sum(dnum * dnum) AS l2n,
        |    max(abs(dnum)) AS mx
        |  FROM t, n),
        |am AS (SELECT min(dim) AS drift_dim FROM t, a WHERE abs(dnum) = mx)
        |SELECT CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
        |  round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(b2 AS DOUBLE)) * sqrt(CAST(c2 AS DOUBLE))), 6) AS centroid_cos,
        |  round(sqrt(CAST(l2n AS DOUBLE)) /
        |    (CAST(n_base AS DOUBLE) * CAST(n_cur AS DOUBLE) * 1000000.0), 6) AS centroid_l2,
        |  round(CAST(mx AS DOUBLE) /
        |    (CAST(n_base AS DOUBLE) * CAST(n_cur AS DOUBLE) * 1000000.0), 6) AS max_dim_shift,
        |  CAST(drift_dim AS INT) AS drift_dim
        |FROM a, am""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      ops.CorpusStats.embeddingDrift(
        emb.filter(pmod(col("vec_id"), lit(8)) =!= 7).select(col("embedding")),
        emb.filter(pmod(col("vec_id"), lit(8)) === 7).select(col("embedding")),
        "embedding")
    },

    // Z-order layout key (functions.ZValue / Bucketing.zorderBy): the
    // Morton interleave of (user bucket, hour bucket) — rows clustered by
    // this key give per-file min/max pruning on EITHER dimension (the
    // OPTIMIZE ZORDER recipe as a deterministic expression). The oracle
    // replays the identical magic-mask spreading ladder in SQL bit
    // arithmetic, so one wrong mask or shift fails the hash.
    q("q_zorder",
      """WITH b AS (
        |  SELECT event_id,
        |    user_id % 1024 AS x,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 4096 AS y
        |  FROM events WHERE event_id % 17 = 0),
        |sx AS (
        |  SELECT event_id, y,
        |    ((x | (x << 16)) & 281470681808895) AS x1 FROM b),
        |sx2 AS (SELECT event_id, y, ((x1 | (x1 << 8)) & 71777214294589695) AS x2 FROM sx),
        |sx3 AS (SELECT event_id, y, ((x2 | (x2 << 4)) & 1085102592571150095) AS x3 FROM sx2),
        |sx4 AS (SELECT event_id, y, ((x3 | (x3 << 2)) & 3689348814741910323) AS x4 FROM sx3),
        |sx5 AS (SELECT event_id, y, ((x4 | (x4 << 1)) & 6148914691236517205) AS xs FROM sx4),
        |sy AS (
        |  SELECT event_id, xs,
        |    ((y | (y << 16)) & 281470681808895) AS y1 FROM sx5),
        |sy2 AS (SELECT event_id, xs, ((y1 | (y1 << 8)) & 71777214294589695) AS y2 FROM sy),
        |sy3 AS (SELECT event_id, xs, ((y2 | (y2 << 4)) & 1085102592571150095) AS y3 FROM sy2),
        |sy4 AS (SELECT event_id, xs, ((y3 | (y3 << 2)) & 3689348814741910323) AS y4 FROM sy3),
        |sy5 AS (SELECT event_id, xs, ((y4 | (y4 << 1)) & 6148914691236517205) AS ys FROM sy4)
        |SELECT event_id, CAST(xs | (ys << 1) AS BIGINT) AS z
        |FROM sy5""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") % 17 === 0)
        .select(col("event_id"),
          z_value(pmod(col("user_id"), lit(1024L)),
            pmod(expr("unix_micros(ts) div 3600000000L"), lit(4096L))).as("z"))
    },

    // Dynamic partition pruning through a real partitioned layout
    // (Bucketing.writePartitioned): orders land partitioned by order
    // month (84 directories), the month dimension carries the year
    // attribute, and the selective dim filter (o_year = 1996) reaches the
    // fact scan only at RUNTIME via the broadcast's
    // DynamicPruningExpression — 12 of 84 partitions read (PlanSpec pins
    // the expression and the pruned partition count; this query pins the
    // RESULT equality against the unpartitioned original table). The
    // layout is written once per dataset (an index artifact, like the ANN
    // quantizers) — the measured path is the pruned probe, not the write.
    q("q_dpp_prune",
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
        |    AS revenue
        |FROM orders
        |WHERE year(o_orderdate) = 1996
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val factPath = ordersByMonthLayout(s, d)
      val fact = s.read.parquet(factPath)
      val dim = Tables.orders(s, d)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("o_month"),
          year(col("o_orderdate")).as("o_year"))
        .distinct()
      fact.join(broadcast(dim.filter(col("o_year") === 1996)), Seq("o_month"))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("revenue"))
    },

    // Runtime bloom-filter join pushdown — the ROW-level runtime-filter
    // dual of q_dpp_prune's partition-level pruning: the selective dim
    // filter (o_orderpriority = '1-URGENT', ~1/5 of orders) builds a
    // bloom filter at runtime that Catalyst injects on the fact side
    // BELOW the shuffle (might_contain(l_orderkey) in the lineitem scan
    // stage), so ~4/5 of fact rows drop before the sort-merge exchange —
    // at 100 TB that is the shuffle-volume story for every
    // selective-dim × fact join that is too big to broadcast. Isolated
    // session: the injection thresholds are tuned for test-scale data
    // and must not leak into other queries' plans (broadcast disabled so
    // the join actually shuffles — the bloom path's production shape).
    q("q_bloom_join",
      """SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.lineitem(s2, d)
        .join(Tables.orders(s2, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          decSum(col("l_extendedprice")).as("revenue"))
    },

    // Token entropy (functions.TokenEntropy): per-document Shannon
    // entropy of the word distribution — the boilerplate/keyword-spam
    // signal (templates score low, diverse prose near ln(n)). One
    // codegen JVM pass per row; the oracle recomputes via per-doc word
    // counts and the same −Σ(c/n)·ln(c/n).
    q("q_entropy",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> t <> '') AS tk
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(tk) AS w, len(tk) AS n
        |  FROM tok WHERE len(tk) > 0),
        |c AS (SELECT doc_id, w, max(n) AS n, count(*) AS c FROM w GROUP BY doc_id, w)
        |SELECT doc_id,
        |  round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6)
        |    AS entropy,
        |  CAST(count(*) AS BIGINT) AS n_distinct
        |FROM c GROUP BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("_tk"))
        .filter(size(col("_tk")) > 0)
        .select(col("doc_id"),
          round(token_entropy(col("_tk")), 6).as("entropy"),
          size(word_shingles(col("_tk"), 1)).cast("long").as("n_distinct"))
    },

    // Gopher quality rules (TextAnalysis.gopherRules; Rae et al. 2021
    // Appendix A): documents get deterministic decorations so every rule
    // has both passers and failers — doc_id%5 plants extra stop words,
    // %7 plants '#' symbol spam, %3 plants bullet lines, %4 plants an
    // ellipsis-ending line — and both engines evaluate the seven rules in
    // the same integer cross-multiplied form (no float-division booleans).
    q("q_gopher_rules",
      """WITH t AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' of and that' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' ' || repeat('# ', 10) ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- bullet line one'
        |         || chr(10) || '- bullet line two' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'a cliffhanger line...'
        |         ELSE '' END AS tx
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, tx,
        |    list_filter(string_split_regex(lower(trim(tx)), '\s+'), w -> w <> '') AS tk,
        |    list_filter(list_transform(string_split(tx, chr(10)), l -> trim(l)),
        |      l -> l <> '') AS ln
        |  FROM t),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n,
        |    CAST(list_sum(list_transform(tk, w -> CAST(len(w) AS BIGINT))) AS BIGINT) AS sumlen,
        |    CAST(len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS nalpha,
        |    CAST(len(list_intersect(list_distinct(tk),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS nstop,
        |    CAST(len(tx) - len(replace(tx, '#', ''))
        |      + (len(tx) - len(replace(tx, '...', ''))) // 3 AS BIGINT) AS nsym,
        |    CAST(len(ln) AS BIGINT) AS nl,
        |    CAST(len(list_filter(ln, l -> starts_with(l, '-') OR starts_with(l, '*')
        |      OR starts_with(l, '•'))) AS BIGINT) AS nbullet,
        |    CAST(len(list_filter(ln, l -> ends_with(l, '...'))) AS BIGINT) AS nell
        |  FROM f)
        |SELECT doc_id, n AS n_words,
        |  n >= 50 AND n <= 100000 AS wc_ok,
        |  n > 0 AND sumlen >= 3 * n AND sumlen <= 10 * n AS wordlen_ok,
        |  10 * nsym <= n AS symbol_ok,
        |  10 * nbullet <= nl AS bullet_ok,
        |  10 * nell <= 3 * nl AS ellipsis_ok,
        |  5 * nalpha >= 4 * n AS alpha_ok,
        |  nstop >= 2 AS stopword_ok,
        |  (n >= 50 AND n <= 100000) AND (n > 0 AND sumlen >= 3 * n AND sumlen <= 10 * n)
        |    AND 10 * nsym <= n AND 10 * nbullet <= nl AND 10 * nell <= 3 * nl
        |    AND 5 * nalpha >= 4 * n AND nstop >= 2 AS gopher_pass
        |FROM m""".stripMargin) { (s, d) =>
      val decorated = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" of and that")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, concat(lit(" "), repeat(lit("# "), 10)))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            lit("\n- bullet line one\n- bullet line two")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("\na cliffhanger line..."))
            .otherwise(lit(""))).as("tx"))
      TextAnalysis.gopherRules(decorated, "doc_id", "tx")
    },

    // Distinct-n diversity per slice (TextAnalysis.distinctNgramRatio;
    // Li et al. 2016 "distinct-1/2") — the generation-diversity audit:
    // distinct bigrams / total bigram occurrences over each doc_id%10
    // slice's pooled text. One codegen n-gram pass + a group-grain
    // count/countDistinct; the oracle restates construction and counts.
    q("q_distinct_ngrams",
      """WITH tok AS (
        |  SELECT doc_id % 10 AS grp, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |grams AS (
        |  SELECT grp, unnest(list_transform(range(1, greatest(len(toks), 1)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM tok)
        |SELECT grp, count(*) AS n_ngrams,
        |  count(DISTINCT g) AS n_distinct,
        |  round(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 6) AS distinct_ratio
        |FROM grams GROUP BY grp""".stripMargin) { (s, d) =>
      ops.TextAnalysis.distinctNgramRatio(
        Tables.documents(s, d)
          .select(pmod(col("doc_id"), lit(10)).as("grp"), col("text")),
        "text", "grp", n = 2)
    },

    // Link extraction → canonicalization → inlink counts (the crawl
    // frontier / link-popularity composite: TextAnalysis.extractLinks +
    // canonicalizeUrl): every doc carries two anchor spellings of its
    // arithmetic target (uppercase+port+tracking vs plain) that must
    // collapse to ONE canonical URL with 2 inlinks per doc. Extraction
    // is one codegen regexp pass; the count is one map-side-combined
    // canonical-grain aggregate.
    q("q_link_graph",
      """SELECT 'https://target' || ((doc_id * 7 + 3) % 50) || '.com/page' AS url,
        |  count(*) * 2 AS n_inlinks
        |FROM documents WHERE text IS NOT NULL GROUP BY 1""".stripMargin) { (s, d) =>
      val t = pmod(col("doc_id") * 7 + 3, lit(50))
      val html = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" <a href=\"HTTPS://TARGET"), t,
          lit(".COM:443/page?utm_source=x\">l</a>"),
          lit(" <a href=\"https://target"), t,
          lit(".com/page\">l</a>")).as("html"))
      ops.TextAnalysis.extractLinks(html, "html", "doc_id")
        .select(ops.TextAnalysis.canonicalizeUrl(col("url")).as("url"))
        .groupBy(col("url")).agg(count(lit(1)).as("n_inlinks"))
    },

    // Corpus-law diagnostics (CorpusStats.corpusLaws; Zipf 1949, Heaps
    // 1978): OLS slope of ln(freq) vs ln(rank) over the top-100 words
    // (accumulated as round(·10⁹) LONG sums over the bounded artifact —
    // order-free integer addition, engine-identical up to libm ln ulps)
    // plus the two-point Heaps exponent between the even-doc half and
    // the full corpus. The oracle replays the identical scaled-integer
    // sums and the same fixed-shape double formulas.
    q("q_corpus_laws",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |wc AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |top AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM wc),
        |sums AS (
        |  SELECT count(*) AS rn,
        |    sum(CAST(round(ln(r) * 1000000000) AS BIGINT)) AS sx,
        |    sum(CAST(round(ln(c) * 1000000000) AS BIGINT)) AS sy,
        |    sum(CAST(round(ln(r) * ln(c) * 1000000000) AS BIGINT)) AS sxy,
        |    sum(CAST(round(ln(r) * ln(r) * 1000000000) AS BIGINT)) AS sxx
        |  FROM top WHERE r <= 100),
        |tot AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM tok),
        |half AS (SELECT count(*) AS nh, count(DISTINCT w) AS vh
        |         FROM tok WHERE doc_id % 2 = 0)
        |SELECT
        |  round((rn * (sxy / 1000000000.0) - (sx / 1000000000.0) * (sy / 1000000000.0))
        |    / (rn * (sxx / 1000000000.0) - (sx / 1000000000.0) * (sx / 1000000000.0)), 6)
        |    AS zipf_slope,
        |  round((ln(v) - ln(vh)) / (ln(n) - ln(nh)), 6) AS heaps_beta,
        |  n AS n_tokens, v AS vocab, nh AS n_half, vh AS vocab_half
        |FROM sums, tot, half""".stripMargin) { (s, d) =>
      ops.CorpusStats.corpusLaws(Tables.documents(s, d),
        "text", "doc_id", topR = 100)
    },

    // Exact φ-heavy hitters via a Misra–Gries candidate pass + bounded
    // verify (CorpusStats.heavyHitters; Misra & Gries 1982, mergeable
    // form Agarwal et al. 2013) — the sketch-family member whose
    // exchange is ≤ k rows per partition REGARDLESS of key cardinality
    // (a plain groupBy-HAVING shuffles every distinct key; over 100 TB
    // of n-grams that is the job). Output is exact, so the oracle IS the
    // plain groupBy-HAVING restatement.
    q("q_heavy_hitters",
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS value
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM tok)
        |SELECT value, count(*) AS cnt
        |FROM tok, n GROUP BY value, n.n
        |HAVING count(*) >= ceil(0.003 * n.n)""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .where(col("text").isNotNull)
        .select(explode(ops.Dedup.tokens(col("text"))).as("value"))
      ops.CorpusStats.heavyHitters(toks, "value", phi = 0.003)
    },

    // TF-IDF top-k keyword extraction (TextAnalysis.tfidfKeywords): the
    // corpus-aware document-labeling primitive — tf·ln((N+1)/(df+1)),
    // round-6, top-5 per doc with the (score DESC, word ASC) tie-break
    // that makes the ranking engine-independent. Spark: explode →
    // partial-agg tf → vocab-grain df join + broadcast N → doc-grain
    // collect+slice (never a corpus window); the oracle is the same
    // arithmetic through row_number.
    q("q_tfidf_keywords",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
        |sc AS (
        |  SELECT doc_id, w,
        |    round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
        |  FROM tf JOIN dfq USING (w), n),
        |rk AS (SELECT doc_id, w, tfidf,
        |  row_number() OVER (PARTITION BY doc_id
        |                     ORDER BY tfidf DESC, w) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, w AS keyword, tfidf
        |FROM rk WHERE rank <= 5""".stripMargin) { (s, d) =>
      ops.TextAnalysis.tfidfKeywords(Tables.documents(s, d),
        "text", "doc_id", k = 5)
    },

    // URL canonicalization + URL-grain dedup (TextAnalysis.canonicalizeUrl
    // / urlDedup) — the C4/RefinedWeb fetch stage upstream of every text
    // op: each doc_id spells its group's URL one of four ways (plain /
    // uppercase-host+default-port+fragment / trailing-slash+tracking-params
    // / a REAL extra param). The first three collapse to one canonical
    // URL per group, the fourth stays distinct and falls out of the
    // n_dups>1 cut; the oracle restates the expected groups from the
    // surviving doc_ids directly — Spark must earn the same sets through
    // the actual string surgery.
    q("q_url_dedup",
      """SELECT 'https://site' || (doc_id // 4) || '.com/p' || (doc_id // 4)
        |         AS canonical_url,
        |  count(*) AS n_dups, min(doc_id) AS keeper_id,
        |  array_to_string(list_sort(list(doc_id)), ',') AS dup_ids
        |FROM documents WHERE doc_id % 4 < 3
        |GROUP BY 1 HAVING count(*) > 1""".stripMargin) { (s, d) =>
      val g = shiftright(col("doc_id"), 2)
      val urls = Tables.documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("https://site"), g, lit(".com/p"), g))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("HTTPS://SITE"), g, lit(".COM:443/p"), g, lit("#section")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("https://site"), g, lit(".com/p"), g,
            lit("/?utm_source=feed&fbclid=abc")))
        .otherwise(concat(lit("https://site"), g, lit(".com/p"), g,
          lit("?page=2"))).as("url"))
      ops.TextAnalysis.urlDedup(urls, "url", "doc_id")
        .select(col("canonical_url"), col("n_dups"), col("keeper_id"),
          array_join(col("dup_ids"), ",").as("dup_ids"))
    },

    // C4-style line-level cleaning (TextAnalysis.c4CleanLines): documents
    // group into 10-line pages (page = doc_id div 10, line = doc_id mod
    // 10) whose lines deterministically exercise every public C4 rule —
    // doc_id%7 picks terminal punct / no punct / a 2-word stub / an
    // "All Rights Reserved" boilerplate tail, and doc_id%11=0 plants the
    // same canonical line corpus-wide so the cross-document line dedup
    // has real work. Spark earns the result through split → trim → the
    // three predicates → the line-grain dedup shuffle → ordered rebuild;
    // the oracle restates line construction AND rules independently.
    q("q_c4_clean",
      """WITH l AS (
        |  SELECT doc_id // 10 AS page_id, doc_id % 10 AS line_no,
        |    CASE WHEN doc_id % 11 = 0
        |           THEN 'the quick brown fox jumps over the lazy dog.'
        |         WHEN doc_id % 7 = 5
        |           THEN array_to_string(string_split(text, ' ')[1:2], ' ') || '.'
        |         WHEN doc_id % 7 = 4 THEN text || '. All Rights Reserved.'
        |         WHEN doc_id % 7 = 1 THEN text
        |         WHEN doc_id % 7 = 2 THEN text || '!'
        |         WHEN doc_id % 7 = 3 THEN text || '?'
        |         ELSE text || '.' END AS line0
        |  FROM documents),
        |t AS (SELECT page_id, line_no, trim(line0) AS line FROM l),
        |k AS (
        |  SELECT * FROM t
        |  WHERE right(line, 1) IN ('.', '!', '?', '"')
        |    AND (CASE WHEN line = '' THEN 0
        |         ELSE len(string_split_regex(line, '\s+')) END) >= 3
        |    AND NOT contains(lower(line), 'javascript')
        |    AND NOT contains(lower(line), 'cookie')
        |    AND NOT contains(lower(line), 'privacy policy')
        |    AND NOT contains(lower(line), 'terms of use')
        |    AND NOT contains(lower(line), 'all rights reserved')
        |    AND NOT contains(lower(line), 'lorem ipsum')
        |    AND NOT contains(lower(line), '{')),
        |d AS (
        |  SELECT page_id, line_no, line,
        |    row_number() OVER (PARTITION BY line ORDER BY page_id, line_no) AS rn
        |  FROM k)
        |SELECT page_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
        |  string_agg(line, chr(10) ORDER BY line_no) AS text_clean
        |FROM d WHERE rn = 1
        |GROUP BY page_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val line0 = when(col("doc_id") % 11 === 0,
          lit("the quick brown fox jumps over the lazy dog."))
        .when(col("doc_id") % 7 === 5,
          concat(array_join(slice(split(col("text"), " "), 1, 2), " "), lit(".")))
        .when(col("doc_id") % 7 === 4, concat(col("text"), lit(". All Rights Reserved.")))
        .when(col("doc_id") % 7 === 1, col("text"))
        .when(col("doc_id") % 7 === 2, concat(col("text"), lit("!")))
        .when(col("doc_id") % 7 === 3, concat(col("text"), lit("?")))
        .otherwise(concat(col("text"), lit(".")))
      val pages = docs
        .select(expr("doc_id div 10").as("page_id"),
          (col("doc_id") % 10).as("_ln"), line0.as("_l0"))
        .groupBy(col("page_id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("_ln"), col("_l0")))),
            x => x.getField("_l0")), "\n").as("text"))
      TextAnalysis.c4CleanLines(pages, "page_id", "text")
    },

    // Vocabulary coverage curve (CorpusStats.vocabCoverage): how many
    // vocab entries cover 50/90/99 % of token mass — the tokenizer-sizing
    // stat, computed on the vocab grain (the corpus collapses once in
    // vocabCounts; the ranking window is vocab-bounded).
    q("q_vocab_coverage",
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> t <> '')) AS w
        |  FROM documents),
        |vc AS (SELECT w AS word, count(*) AS cnt FROM tok GROUP BY w),
        |r AS (
        |  SELECT word, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, word) AS rn,
        |    sum(cnt) OVER (ORDER BY cnt DESC, word
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vc),
        |t AS (SELECT sum(cnt) AS total FROM vc)
        |SELECT CAST(p AS DOUBLE) AS p, CAST(min(rn) AS BIGINT) AS vocab_size,
        |  CAST(min(cum) AS BIGINT) AS covered_tokens,
        |  CAST(max(total) AS BIGINT) AS total_tokens
        |FROM r, t, unnest([0.5, 0.9, 0.99]) u(p)
        |WHERE cum >= p * total
        |GROUP BY p""".stripMargin) { (s, d) =>
      ops.CorpusStats.vocabCoverage(
        ops.CorpusStats.vocabCounts(Tables.documents(s, d), "text"),
        Seq(0.5, 0.9, 0.99))
    },

    // Snapshot diff (Funnel.snapshotDiff): the CDC primitive when the
    // upstream can't emit a change stream — classify every order key
    // across two synthetic snapshots (old = keys %5≠0; new = keys %5≠1
    // with prices doubled where key %7=0) as added/removed/changed/
    // unchanged, column-wise null-safe, NO row hashing (a hash collision
    // would silently mis-classify). Output: per-type exact count and key
    // checksum.
    q("q_snapshot_diff",
      """WITH a AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DOUBLE) AS price
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |b AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CASE WHEN o_orderkey % 7 = 0
        |         THEN CAST(o_totalprice AS DOUBLE) * 2
        |         ELSE CAST(o_totalprice AS DOUBLE) END AS price
        |  FROM orders WHERE o_orderkey % 5 <> 1),
        |d AS (
        |  SELECT coalesce(a.k, b.k) AS k,
        |    CASE WHEN a.k IS NULL THEN 'added'
        |         WHEN b.k IS NULL THEN 'removed'
        |         WHEN a.st IS DISTINCT FROM b.st
        |           OR a.price IS DISTINCT FROM b.price THEN 'changed'
        |         ELSE 'unchanged' END AS change_type
        |  FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT change_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM d GROUP BY change_type""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val oldSnap = orders.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("price"))
      val newSnap = orders.filter(col("o_orderkey") % 5 =!= 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 7 === 0,
            col("o_totalprice").cast("double") * 2)
            .otherwise(col("o_totalprice").cast("double")).as("price"))
      ops.Funnel.snapshotDiff(oldSnap, newSnap, "o_orderkey",
          Seq("o_orderstatus", "price"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"))
    },

    // END-TO-END ENTITY RESOLUTION — the record-linkage lifecycle as one
    // registered row: sorted-neighborhood BLOCKING (no all-pairs product)
    // → Jaro-Winkler SCORING of the candidates (the codegen kernel) →
    // connected-component CLUSTERING (min-label propagation) → canonical
    // ids with member counts. The oracle recomputes every stage: the SNM
    // window pairs, DuckDB's native jaro_winkler, and the recursive-CTE
    // closure — so blocking recall, scorer semantics, and the component
    // fold all verify in one hash.
    q("q_entity_resolution",
      """WITH RECURSIVE s AS (
        |  SELECT p_partkey AS id, lower(trim(p_name)) AS k,
        |    substr(lower(trim(p_name)), 1, 1) AS blk
        |  FROM part),
        |r AS (
        |  SELECT id, k, blk, row_number() OVER (PARTITION BY blk ORDER BY k, id) AS rn
        |  FROM s),
        |sc AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM r a JOIN r b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 5
        |  WHERE round(jaro_winkler_similarity(a.k, b.k), 6) >= 0.92),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM sc
        |  UNION SELECT id_b, id_a FROM sc),
        |reach(id, r2) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r2 FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id, min(r2) AS cluster_id FROM reach GROUP BY id)
        |SELECT id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        |FROM cl""".stripMargin) { (s, d) =>
      val names = Tables.part(s, d)
        .select(col("p_partkey").as("id"),
          lower(trim(col("p_name"))).as("_key"))
      val cand = Dedup.sortedNeighborPairs(names, "_key", "id", window = 5)
      val matched = cand
        .filter(round(jaro_winkler(col("key_a"), col("key_b")), 6) >= 0.92)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.clusterLabels(matched)
      clusters.withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    },

    // INCREMENTAL entity resolution (Dedup.snmIndex /
    // incrementalSnmPairs / foldClusterLabels) — the base+delta
    // production shape completing the lifecycle trio with
    // incrementalDedup/incrementalNearDups: the base participates through
    // its materialized sorted-key/bucket artifact (fetched by equi-join
    // around each delta key, located via one as-of against the tiny
    // bucket directory), SNM windows run over the delta±neighborhood
    // frame only (pairs filtered on TRUE merged rank distance from the
    // artifact's global _rn), and new matches fold into the standing
    // labels with only TOUCHED clusters re-entering the component loop.
    // Contract (linkage never unlinks): post-ingest components over
    // (prior base pairs ∪ delta-touching merged pairs) — which the oracle
    // recomputes directly.
    q("q_incremental_er",
      """WITH RECURSIVE s AS (
        |  SELECT p_partkey AS id, lower(trim(p_name)) AS k,
        |    substr(lower(trim(p_name)), 1, 1) AS blk,
        |    CASE WHEN p_partkey % 9 = 0 THEN 1 ELSE 0 END AS isd
        |  FROM part),
        |rb AS (
        |  SELECT id, k, blk, row_number() OVER (PARTITION BY blk ORDER BY k, id) AS rn
        |  FROM s WHERE isd = 0),
        |pb AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM rb a JOIN rb b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 5
        |  WHERE round(jaro_winkler_similarity(a.k, b.k), 6) >= 0.92),
        |rm AS (
        |  SELECT id, k, blk, isd, row_number() OVER (PARTITION BY blk ORDER BY k, id) AS rn
        |  FROM s),
        |pm AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM rm a JOIN rm b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 5
        |  WHERE (a.isd = 1 OR b.isd = 1)
        |    AND round(jaro_winkler_similarity(a.k, b.k), 6) >= 0.92),
        |pp AS (SELECT id_a, id_b FROM pb UNION SELECT id_a, id_b FROM pm),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pp
        |          UNION SELECT id_b, id_a FROM pp),
        |reach(id, r2) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r2 FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id, min(r2) AS cluster_id FROM reach GROUP BY id)
        |SELECT id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        |FROM cl""".stripMargin) { (s, d) =>
      val names = Tables.part(s, d)
        .select(col("p_partkey").as("id"),
          lower(trim(col("p_name"))).as("_key"))
      val base = names.filter(pmod(col("id"), lit(9)) =!= 0)
      val delta = names.filter(pmod(col("id"), lit(9)) === 0)
      // STANDING artifacts, memoized per dataset (the bpe-merges / IVF
      // convention): a production pipeline materializes the base pair
      // labels and the sorted-key index once per corpus snapshot — the
      // increment is what each delta batch actually pays
      val prior = indexArtifact(s"er-prior-labels:$d") {
        val basePairs = Dedup.sortedNeighborPairs(base, "_key", "id",
            window = 5)
          .filter(round(jaro_winkler(col("key_a"), col("key_b")), 6) >= 0.92)
          .select(col("id_a"), col("id_b"))
        Dedup.clusterLabels(basePairs).localCheckpoint(true)
      }
      val index = indexArtifact(s"er-snm-index:$d") {
        Dedup.snmIndex(base, "_key", "id", bucketSize = 64)
          .localCheckpoint(true)
      }
      // the incremental path under test
      val newPairs = Dedup.incrementalSnmPairs(index, delta, "_key", "id",
          window = 5, bucketSize = 64)
        .filter(round(jaro_winkler(col("key_a"), col("key_b")), 6) >= 0.92)
        .select(col("id_a"), col("id_b"))
      Dedup.foldClusterLabels(prior, newPairs)
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    },

    // BLOCKING-quality eval — the measurement member for the blocking
    // half of entity resolution (retrievalEval's role, linkage edition):
    // plant one known duplicate per part (id + 10⁷, key + ' x' — same
    // sort neighborhood, edit distance 2), run sorted-neighborhood
    // blocking, and report pairs completeness (found/true — blocking
    // recall) and reduction ratio (1 − candidates/allpairs — the whole
    // point of blocking). Counts exact; two round-6 ratios of exact ints.
    q("q_blocking_eval",
      """WITH p AS (SELECT p_partkey AS id, lower(trim(p_name)) AS k FROM part),
        |c AS (SELECT id, k FROM p
        |      UNION ALL SELECT id + 10000000, k || ' x' FROM p),
        |r AS (SELECT id, k, substr(k, 1, 1) AS blk,
        |        row_number() OVER (PARTITION BY substr(k, 1, 1)
        |                           ORDER BY k, id) AS rn
        |      FROM c),
        |cand AS (
        |  SELECT least(a.id, b.id) AS lo, greatest(a.id, b.id) AS hi
        |  FROM r a JOIN r b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 5),
        |tr AS (SELECT id AS lo, id + 10000000 AS hi FROM p),
        |f AS (SELECT count(*) AS nf FROM cand JOIN tr
        |      ON cand.lo = tr.lo AND cand.hi = tr.hi),
        |n AS (SELECT count(*) AS nr FROM c),
        |cc AS (SELECT count(*) AS ncand FROM cand),
        |nt AS (SELECT count(*) AS ntrue FROM tr)
        |SELECT CAST(nr AS BIGINT) AS n_records,
        |  CAST(ncand AS BIGINT) AS n_candidates,
        |  CAST(ntrue AS BIGINT) AS n_true, CAST(nf AS BIGINT) AS true_found,
        |  round(CAST(nf AS DOUBLE) / ntrue, 6) AS pairs_completeness,
        |  round(1.0 - CAST(ncand AS DOUBLE) /
        |    (CAST(nr AS DOUBLE) * (nr - 1) / 2), 6) AS reduction_ratio
        |FROM n, cc, nt, f""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d)
        .select(col("p_partkey").as("id"), lower(trim(col("p_name"))).as("_key"))
      val corpus = p.unionByName(p.select((col("id") + 10000000L).as("id"),
        concat(col("_key"), lit(" x")).as("_key")))
      val cand = Dedup.sortedNeighborPairs(corpus, "_key", "id", window = 5)
        .select(least(col("id_a"), col("id_b")).as("lo"),
          greatest(col("id_a"), col("id_b")).as("hi"))
        .localCheckpoint(false)   // consumed by the count and the truth join
      val truth = p.select(col("id").as("lo"), (col("id") + 10000000L).as("hi"))
      val nRec = corpus.agg(count(lit(1)).as("n_records"))
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val nFound = cand.join(truth, Seq("lo", "hi"), "left_semi")
        .agg(count(lit(1)).as("true_found"))
      nRec.crossJoin(nCand).crossJoin(nTrue).crossJoin(nFound)
        .select(col("n_records"), col("n_candidates"), col("n_true"),
          col("true_found"),
          round(col("true_found").cast("double") / col("n_true"), 6)
            .as("pairs_completeness"),
          round(lit(1.0) - col("n_candidates").cast("double") /
            (col("n_records").cast("double") * (col("n_records") - 1) / 2), 6)
            .as("reduction_ratio"))
    },

    // Jaro-Winkler record-linkage scoring (functions.JaroWinklerSim):
    // fuzzy part-name pairs scored by the codegen kernel, verified
    // against DuckDB's NATIVE jaro_winkler_similarity — an independent
    // implementation, so semantic drift (byte vs codepoint comparison,
    // boost threshold, prefix cap) fails the hash. The bounded self-join
    // is the oracle instance; at corpus scale the blocking joins
    // (PassJoin / sorted-neighborhood) produce the candidates this
    // scorer ranks.
    q("q_jaro_match",
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 300)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.88""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d).filter(col("p_partkey") <= 300)
        .select(col("p_partkey"), col("p_name"))
      p.select(col("p_partkey").as("id_a"), col("p_name").as("_na"))
        .crossJoin(p.select(col("p_partkey").as("id_b"), col("p_name").as("_nb")))
        .filter(col("id_a") < col("id_b"))
        .withColumn("jw", round(jaro_winkler(col("_na"), col("_nb")), 6))
        .filter(col("jw") >= 0.88)
        .select(col("id_a"), col("id_b"), col("jw"))
    },

    // Time-weighted average (Funnel.timeWeightedAvg): each value holds
    // until the entity's next event — the telemetry-correct mean a plain
    // avg() gets wrong under uneven reporting rates. Integer products in
    // LONG, split-summed into DECIMAL(38,0); one entity-grain exchange.
    q("q_time_weighted",
      """WITH b AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
        |  FROM events),
        |g AS (
        |  SELECT user_id, v,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS gap
        |  FROM b),
        |a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(gap) AS BIGINT) AS span_us,
        |    sum(CASE WHEN gap IS NOT NULL
        |             THEN CAST(v AS HUGEINT) * gap ELSE 0 END) AS num
        |  FROM g GROUP BY user_id)
        |SELECT user_id, n_events, span_us,
        |  round(CAST(num AS DOUBLE) / (CAST(span_us AS DOUBLE) * 100), 6) AS twa
        |FROM a WHERE span_us > 0""".stripMargin) { (s, d) =>
      ops.Funnel.timeWeightedAvg(Tables.events(s, d), "user_id", "ts",
        "value", "event_id", scale = 2)
    },

    // Additive seasonal decomposition (Funnel.seasonalDecompose):
    // daily = trend + seasonal + residual per event type — centered 7-day
    // moving average over CALENDAR-contiguous full windows only, seasonal
    // as per-(type, day-of-cycle) mean of the detrended series. All
    // divisions are micro-scaled FLOOR divisions (DuckDB // ≡ floor(a/b)
    // here), day-of-cycle is datediff-epoch % 7 — no weekday numbering.
    q("q_seasonal_decompose",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS dsum
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, d, dsum,
        |    sum(dsum) OVER w7 AS s7, count(*) OVER w7 AS c7,
        |    date_diff('day', min(d) OVER w7, max(d) OVER w7) AS span
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t AS (
        |  SELECT event_type, d, dsum,
        |    CASE WHEN c7 = 7 AND span = 6
        |         THEN (1000000 * s7) // 7 END AS trend_m
        |  FROM w),
        |det AS (
        |  SELECT event_type, d, dsum, trend_m,
        |    1000000 * dsum - trend_m AS det_m,
        |    date_diff('day', DATE '1970-01-01', d) % 7 AS season
        |  FROM t),
        |se AS (
        |  SELECT event_type, d, dsum, trend_m, det_m,
        |    CASE WHEN det_m IS NOT NULL THEN
        |      sum(det_m) OVER ws // count(det_m) OVER ws END AS seas_m
        |  FROM det
        |  WINDOW ws AS (PARTITION BY event_type, season))
        |SELECT event_type, d, round(dsum / 100.0, 6) AS daily,
        |  round(CAST(trend_m AS DOUBLE) / 100000000.0, 6) AS trend,
        |  round(CAST(seas_m AS DOUBLE) / 100000000.0, 6) AS seasonal,
        |  round(CAST(det_m - seas_m AS DOUBLE) / 100000000.0, 6) AS residual
        |FROM se""".stripMargin) { (s, d) =>
      ops.Funnel.seasonalDecompose(Tables.events(s, d), "event_type", "ts",
        "value", scale = 2, period = 7)
    },

    // The monitoring LIFECYCLE composition: seasonal decomposition →
    // robust anomaly flag — "is Monday's dip seasonal or real" answered
    // end-to-end: residuals from q_seasonal_decompose's exact pipeline
    // feed madOutliers at micro-scale (round-6 residuals ×10⁶ are exact
    // integers), so the anomaly count is engine-exact. One registered row
    // chaining both oracles.
    q("q_seasonal_anomaly",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS dsum
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, d, dsum,
        |    sum(dsum) OVER w7 AS s7, count(*) OVER w7 AS c7,
        |    date_diff('day', min(d) OVER w7, max(d) OVER w7) AS span
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t AS (
        |  SELECT event_type, d, dsum,
        |    CASE WHEN c7 = 7 AND span = 6
        |         THEN (1000000 * s7) // 7 END AS trend_m
        |  FROM w),
        |det AS (
        |  SELECT event_type, d, dsum, trend_m,
        |    1000000 * dsum - trend_m AS det_m,
        |    date_diff('day', DATE '1970-01-01', d) % 7 AS season
        |  FROM t),
        |se AS (
        |  SELECT event_type, det_m,
        |    CASE WHEN det_m IS NOT NULL THEN
        |      sum(det_m) OVER ws // count(det_m) OVER ws END AS seas_m
        |  FROM det
        |  WINDOW ws AS (PARTITION BY event_type, season)),
        |b AS (
        |  SELECT event_type AS g,
        |    CAST(round(round(CAST(det_m - seas_m AS DOUBLE) / 100000000.0, 6)
        |      * 1000000.0) AS BIGINT) AS v
        |  FROM se WHERE det_m IS NOT NULL AND seas_m IS NOT NULL),
        |r1 AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) - 1 AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM b),
        |m AS (
        |  SELECT g, sum(CASE WHEN rn = (n-1)//2 THEN v END)
        |         + sum(CASE WHEN rn = n//2 THEN v END) AS m2
        |  FROM r1 WHERE rn = (n-1)//2 OR rn = n//2 GROUP BY g),
        |dd AS (
        |  SELECT b.g, v, abs(2*v - m2) AS dv FROM b JOIN m USING (g)),
        |r2 AS (
        |  SELECT g, dv, row_number() OVER (PARTITION BY g ORDER BY dv) - 1 AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM dd),
        |mm AS (
        |  SELECT g, sum(CASE WHEN rn = (n-1)//2 THEN dv END)
        |         + sum(CASE WHEN rn = n//2 THEN dv END) AS mad2x
        |  FROM r2 WHERE rn = (n-1)//2 OR rn = n//2 GROUP BY g)
        |SELECT dd.g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(max(m.m2) AS DOUBLE) / 2000000.0, 6) AS median,
        |  round(CAST(max(mm.mad2x) AS DOUBLE) / 4000000.0, 6) AS mad,
        |  CAST(sum(CASE WHEN 2 * dv > 3 * mad2x THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dd JOIN m USING (g) JOIN mm USING (g)
        |GROUP BY dd.g""".stripMargin) { (s, d) =>
      val dec = ops.Funnel.seasonalDecompose(Tables.events(s, d),
        "event_type", "ts", "value", scale = 2, period = 7)
      ops.CorpusStats.madOutliers(dec.where(col("residual").isNotNull),
        "event_type", "residual", scale = 6, kNum = 3, kDen = 1)
    },

    // MAD robust outliers (CorpusStats.madOutliers): per event type, how
    // many values sit beyond 3 MADs of the median — integer-exact via
    // DOUBLED medians (m2, mad2x) so no .5 and no float boundary exists
    // anywhere; the flag is the pure integer comparison 2·d > 3·mad2x.
    q("q_mad_outliers",
      """WITH b AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r1 AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) - 1 AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM b),
        |m AS (
        |  SELECT g, sum(CASE WHEN rn = (n-1)//2 THEN v END)
        |         + sum(CASE WHEN rn = n//2 THEN v END) AS m2
        |  FROM r1 WHERE rn = (n-1)//2 OR rn = n//2 GROUP BY g),
        |d AS (
        |  SELECT b.g, v, abs(2*v - m2) AS dd FROM b JOIN m USING (g)),
        |r2 AS (
        |  SELECT g, dd, row_number() OVER (PARTITION BY g ORDER BY dd) - 1 AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM d),
        |mm AS (
        |  SELECT g, sum(CASE WHEN rn = (n-1)//2 THEN dd END)
        |         + sum(CASE WHEN rn = n//2 THEN dd END) AS mad2x
        |  FROM r2 WHERE rn = (n-1)//2 OR rn = n//2 GROUP BY g)
        |SELECT d.g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(max(m.m2) AS DOUBLE) / 200.0, 6) AS median,
        |  round(CAST(max(mm.mad2x) AS DOUBLE) / 400.0, 6) AS mad,
        |  CAST(sum(CASE WHEN 2 * dd > 3 * mad2x THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d JOIN m USING (g) JOIN mm USING (g)
        |GROUP BY d.g""".stripMargin) { (s, d) =>
      ops.CorpusStats.madOutliers(Tables.events(s, d), "event_type", "value",
        scale = 2, kNum = 3, kDen = 1)
    },

    // Theil–Sen robust slope (Funnel.theilSenSlopes): median of all
    // pairwise daily-value slopes per type — OLS flips on one corrupted
    // day, the pairwise median doesn't (29% breakdown point). Each slope
    // is one double division of exact integers (bit-identical across
    // engines); the median uses the doubled lo+hi selection, halved once.
    // Pair join at the daily-spine grain: days², never events².
    q("q_theil_sen",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS dv
        |  FROM events GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(b.dv - a.dv AS DOUBLE) / (CAST(b.d - a.d AS DOUBLE) * 100) AS s
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND b.d > a.d),
        |r AS (
        |  SELECT event_type, s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY s) - 1 AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM p),
        |m AS (
        |  SELECT event_type, max(n) AS n_pairs,
        |    (sum(CASE WHEN rn = (n-1)//2 THEN s ELSE 0 END)
        |     + sum(CASE WHEN rn = n//2 THEN s ELSE 0 END)) / 2 AS mm
        |  FROM r WHERE rn = (n-1)//2 OR rn = n//2 GROUP BY event_type),
        |nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY event_type)
        |SELECT nd.event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_pairs AS BIGINT) AS n_pairs, round(mm, 6) AS slope_per_day
        |FROM nd JOIN m USING (event_type)""".stripMargin) { (s, d) =>
      ops.Funnel.theilSenSlopes(Tables.events(s, d), "ts", "event_type",
        "value", scale = 2)
    },

    // Trimmed mean (CorpusStats.trimmedMean): per type, drop the k
    // smallest/largest values (k = ⌊n·permille/1000⌋ — an exact integer
    // on every engine, where a double fraction can straddle the floor)
    // and average the rest; plain mean alongside for the contrast. One
    // keyed rank window, scaled-LONG sums, one division.
    q("q_trimmed_mean",
      """WITH b AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM b),
        |k AS (SELECT g, v, rn, n, (n * 100) // 1000 AS k FROM r)
        |SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(k) AS BIGINT) AS k_trimmed,
        |  round(CAST(sum(v) AS DOUBLE) / (max(n) * 100.0), 6) AS mean,
        |  round(CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN v ELSE 0 END) AS DOUBLE)
        |    / (sum(CASE WHEN rn > k AND rn <= n - k THEN 1 ELSE 0 END) * 100.0), 6)
        |    AS trimmed_mean
        |FROM k GROUP BY g""".stripMargin) { (s, d) =>
      ops.CorpusStats.trimmedMean(Tables.events(s, d), "event_type", "value",
        trimPermille = 100, scale = 2)
    },

    // Exact Pearson correlation matrix (CorpusStats.exactCorrelation):
    // every pairwise correlation of four lineitem measures from ONE scan
    // — the five sums per pair are exact integers (scaled-LONG grid with
    // the decSum hi/lo split), and only the final cast/multiply/sqrt/
    // divide run in floating point, in the same operation order as the
    // oracle's HUGEINT restatement. Spark's own corr() accumulates
    // doubles (Welford) whose result is partition-order-dependent — this
    // is the engine-portable form.
    q("q_corr_matrix",
      corrOracle("lineitem", Seq(("l_quantity", 2), ("l_extendedprice", 2),
        ("l_discount", 2), ("l_tax", 2)))) { (s, d) =>
      ops.CorpusStats.exactCorrelation(Tables.lineitem(s, d),
        Seq(("l_quantity", 2), ("l_extendedprice", 2),
          ("l_discount", 2), ("l_tax", 2)))
    },

    // Spearman rank correlation (CorpusStats.spearmanCorrelation) between
    // quantity and extended price on the cents grid -- Pearson on DOUBLED
    // midranks (2*cum_before + m + 1, always integer), five exact
    // DECIMAL38/HUGEINT sums into the identical closed form, one double
    // divide + sqrt at the end.
    q("q_spearman",
      """WITH base AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |gx AS (SELECT x, count(*) AS m FROM base GROUP BY x),
        |rx AS (
        |  SELECT x, 2 * coalesce(sum(m) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + m + 1 AS r2x
        |  FROM gx),
        |gy AS (SELECT y, count(*) AS m FROM base GROUP BY y),
        |ry AS (
        |  SELECT y, 2 * coalesce(sum(m) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + m + 1 AS r2y
        |  FROM gy),
        |j AS (SELECT r2x, r2y FROM base JOIN rx USING (x) JOIN ry USING (y)),
        |sm AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(r2x AS HUGEINT)) AS sx, sum(CAST(r2y AS HUGEINT)) AS sy,
        |    sum(CAST(r2x AS HUGEINT) * r2x) AS qx,
        |    sum(CAST(r2y AS HUGEINT) * r2y) AS qy,
        |    sum(CAST(r2x AS HUGEINT) * r2y) AS pxy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CAST(n * pxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n * qx - sx * sx AS DOUBLE)
        |         * CAST(n * qy - sy * sy AS DOUBLE)), 6) AS rho
        |FROM sm""".stripMargin) { (s, d) =>
      ops.CorpusStats.spearmanCorrelation(
        Tables.lineitem(s, d).select(
          roundAway(col("l_quantity") * 100).cast("long").as("x"),
          roundAway(col("l_extendedprice") * 100).cast("long").as("y")),
        "x", "y")
    },

    // Wilson 95% score interval (CorpusStats.wilsonInterval) for the
    // per-source quality pass rate (n_chars >= 400) -- the binomial CI
    // that stays inside [0,1] at small n; one group-grain aggregate, the
    // bound one fixed-shape IEEE expression over exact (n, k).
    q("q_wilson",
      """WITH g AS (
        |  SELECT source, count(*) AS n,
        |    sum(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) AS k
        |  FROM documents WHERE source IS NOT NULL GROUP BY source),
        |e AS (
        |  SELECT source, n, k,
        |    CAST(k AS DOUBLE) / n AS p,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM g)
        |SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  round(p, 6) AS p_hat,
        |  round((p + 1.96 * 1.96 / (2.0 * nd)
        |    - 1.96 * sqrt(p * (1.0 - p) / nd
        |        + 1.96 * 1.96 / (4.0 * nd * nd)))
        |    / (1.0 + 1.96 * 1.96 / nd), 6) AS lo,
        |  round((p + 1.96 * 1.96 / (2.0 * nd)
        |    + 1.96 * sqrt(p * (1.0 - p) / nd
        |        + 1.96 * 1.96 / (4.0 * nd * nd)))
        |    / (1.0 + 1.96 * 1.96 / nd), 6) AS hi
        |FROM e""".stripMargin) { (s, d) =>
      ops.CorpusStats.wilsonInterval(
        Tables.documents(s, d)
          .select(col("source"), (col("n_chars") >= 400).as("pass")),
        "source", "pass")
    },

    // Quantile normalization (CorpusStats.quantileNormalize): per-source
    // n_chars mapped onto the GLOBAL length quantile function (type-1) --
    // integer-exact end to end: target rank t = (cg*N + ng - 1) div ng in
    // DECIMAL38, mapped value = smallest global value with c >= t via the
    // AsOf merge on negated ranks. One row per distinct (source, n_chars).
    q("q_quantile_norm",
      """WITH base AS (
        |  SELECT source AS g, n_chars AS v FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |gg AS (SELECT g, v, count(*) AS m FROM base GROUP BY g, v),
        |gcum AS (
        |  SELECT g, v, m,
        |    sum(m) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg,
        |    sum(m) OVER (PARTITION BY g) AS ng
        |  FROM gg),
        |gl AS (SELECT v, count(*) AS mg FROM base GROUP BY v),
        |glcum AS (
        |  SELECT v, sum(mg) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM gl),
        |tot AS (SELECT sum(mg) AS n FROM gl),
        |tgt AS (
        |  SELECT g, v, m,
        |    (CAST(cg AS HUGEINT) * (SELECT n FROM tot) + ng - 1) // ng AS t
        |  FROM gcum)
        |SELECT t.g AS source, t.v AS n_chars,
        |  (SELECT min(x.v) FROM glcum x WHERE x.c >= t.t) AS norm_value,
        |  CAST(t.m AS BIGINT) AS n
        |FROM tgt t""".stripMargin) { (s, d) =>
      ops.CorpusStats.quantileNormalize(
        Tables.documents(s, d).select(col("source"), col("n_chars")),
        "source", "n_chars")
    },

    // Exact WEIGHTED quantiles (CorpusStats.exactWeightedQuantiles):
    // "the price below which p of item VOLUME lives" — quantity-weighted,
    // lower/type-1 convention, via the sort-selection machinery (one
    // range sort, a weight-offset counting pass, threshold-crossing
    // scans). The oracle states the definition directly: first x whose
    // running weight reaches p·W.
    q("q_weighted_quantiles",
      """WITH s AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS x,
        |    CAST(round(l_quantity) AS BIGINT) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND round(l_quantity) > 0),
        |c AS (
        |  SELECT x, sum(w) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s),
        |t AS (SELECT sum(w) AS total FROM s)
        |SELECT CAST(p AS DOUBLE) AS p,
        |  round((SELECT min(x) FROM c, t WHERE cum >= p * total), 6) AS value
        |FROM unnest([0.25, 0.5, 0.75, 0.95]) u(p)""".stripMargin) { (s, d) =>
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val li = Tables.lineitem(s, d).select(
        col("l_extendedprice").cast("double").as("x"),
        round(col("l_quantity")).cast("long").as("w"))
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val qs = ops.CorpusStats.exactWeightedQuantiles(li, "x", "w", ps)
      s.createDataFrame(ps.zip(qs).map { case (p, v) => (p, r6(v)) })
        .toDF("p", "value")
    },

    // Per-group exact quantiles (CorpusStats.groupedQuantiles): p25/p50/
    // p95 of value per event type via ONE keyed window — rank + group
    // count share a single exchange, only the ≤2·|ps| rows per group at
    // a target order statistic survive to the interpolation. No per-group
    // value buffer (Spark's own `percentile` boxes every value into a
    // per-group hash map).
    q("q_grouped_quantiles",
      """WITH q AS (
        |  SELECT event_type, count(value) AS n,
        |    quantile_cont(value, [0.25, 0.5, 0.95]) AS qs
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  CAST(CASE i WHEN 1 THEN 0.25 WHEN 2 THEN 0.5 ELSE 0.95 END AS DOUBLE) AS p,
        |  round(qs[i], 6) AS value,
        |  CAST(n AS BIGINT) AS n
        |FROM q, unnest([1, 2, 3]) AS t(i)""".stripMargin) { (s, d) =>
      ops.CorpusStats.groupedQuantiles(Tables.events(s, d),
          "event_type", "value", Seq(0.25, 0.5, 0.95))
        .select(col("event_type"), col("p"),
          round(col("value"), 6).as("value"), col("n"))
    },

    // Equal-frequency bucketing (CorpusStats.quantileBuckets) — NTILE at
    // scale: quartile cut points from ONE exactQuantiles pass broadcast
    // as round-6 literals, assignment a stateless scan — never the
    // single-task global sort `ntile() OVER (ORDER BY x)` implies. The
    // boundaries are a reusable artifact (score a new batch into the same
    // buckets with no recompute). Oracle derives identical cut points via
    // quantile_cont and the same tie rule (<= → lower bucket).
    q("q_value_buckets",
      """WITH b AS (
        |  SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE),
        |                       [0.25, 0.5, 0.75]) AS qs
        |  FROM lineitem),
        |a AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS x,
        |    CASE WHEN CAST(l_extendedprice AS DOUBLE) <= round(qs[1], 6) THEN 1
        |         WHEN CAST(l_extendedprice AS DOUBLE) <= round(qs[2], 6) THEN 2
        |         WHEN CAST(l_extendedprice AS DOUBLE) <= round(qs[3], 6) THEN 3
        |         ELSE 4 END AS bucket
        |  FROM lineitem, b)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  round(min(x), 6) AS lo, round(max(x), 6) AS hi,
        |  CAST(sum(CAST(round(x * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
        |FROM a GROUP BY bucket""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("x"))
      ops.CorpusStats.quantileBuckets(li, "x", nBuckets = 4)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("x")), 6).as("lo"), round(max(col("x")), 6).as("hi"),
          decSum(col("x")).as("total"))
    },

    // Approximate heavy hitters (Spark 4's approx_top_k sketch). WHICH items
    // a sketch emits under count ties is sketch-specific, so the oracle
    // compares what IS engine-independent: the item count, the k-th count
    // and the count-multiset sum (identical for every valid top-k set under
    // ties), plus the stated contract that the sketch's per-item counts are
    // exact (maxItemsTracked far above the distinct count → no collisions).
    q("q_approx_topk",
      """WITH c AS (
        |  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey),
        |top AS (SELECT cnt FROM c ORDER BY cnt DESC LIMIT 10)
        |SELECT CAST(10 AS BIGINT) AS n_items,
        |  CAST(min(cnt) AS BIGINT) AS kth_count,
        |  CAST(sum(cnt) AS BIGINT) AS sum_counts,
        |  CAST(1 AS BOOLEAN) AS counts_exact
        |FROM top""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val approx = li
        .agg(expr("approx_top_k(l_partkey, 10, 65536)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("acount"))
      val exact = li.groupBy(col("l_partkey").as("_item"))
        .agg(count(lit(1)).as("ecount"))
      approx.join(exact, col("item") === col("_item"))
        .agg(count(lit(1)).as("n_items"),
          min(col("ecount")).as("kth_count"),
          sum(col("ecount")).as("sum_counts"),
          bool_and(col("acount") === col("ecount")).as("counts_exact"))
    })

  // -------------------------------------------------------- nested structs

  /** Nested-type coverage (reference `pojo/TweetPojo.java:6-13` proves the
    * intended capability: struct-in-struct, List<String>, array-of-struct).
    * The oracles compute content-equivalent flat results — the driver
    * compares values, not plans. */
  private def nested: Seq[Q] = Seq(

    q("q_struct_explode",
      """SELECT o_custkey,
        |  CAST(count(*) OVER (PARTITION BY o_custkey) AS INT) AS n_orders,
        |  o_orderkey AS okey,
        |  CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders WHERE o_custkey <= 100""".stripMargin) { (s, d) =>
      // array<struct> built per customer, then exploded back with dot-path
      // field access — round-trips the nested container through an agg
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .groupBy("o_custkey")
        .agg(collect_list(struct(col("o_orderkey").as("okey"),
          col("o_totalprice").as("price"))).as("os"))
        .select(col("o_custkey"), size(col("os")).as("n_orders"),
          explode(col("os")).as("o"))
        .select(col("o_custkey"), col("n_orders"),
          col("o.okey").as("okey"), col("o.price").cast("double").as("price"))
    },

    q("q_nested_from_json",
      """SELECT event_id, user_id AS uid, event_type AS utype,
        |  unnest(['t' || CAST(event_id % 3 AS VARCHAR),
        |          't' || CAST(event_id % 5 AS VARCHAR)]) AS tag
        |FROM events WHERE event_id % 11 = 0""".stripMargin) { (s, d) =>
      // struct-in-struct + array<string> through a to_json/from_json round
      // trip (the TweetPojo wire shape), then dot-path projection + explode
      val nestedSchema = StructType(Seq(
        StructField("user", StructType(Seq(
          StructField("id", LongType), StructField("type", StringType)))),
        StructField("tags", ArrayType(StringType))))
      Tables.events(s, d)
        .filter(col("event_id") % 11 === 0)
        .select(col("event_id"), to_json(struct(
          struct(col("user_id").as("id"), col("event_type").as("type")).as("user"),
          array(concat(lit("t"), col("event_id") % 3),
            concat(lit("t"), col("event_id") % 5)).as("tags"))).as("j"))
        .select(col("event_id"), from_json(col("j"), nestedSchema).as("m"))
        .select(col("event_id"), col("m.user.id").as("uid"),
          col("m.user.type").as("utype"), explode(col("m.tags")).as("tag"))
    },

    q("q_struct_array_hof",
      """SELECT l_orderkey, CAST(count(*) AS INT) AS n_items,
        |  CAST(count(*) FILTER (WHERE floor(l_quantity) > 25) AS INT) AS n_big,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        |FROM lineitem WHERE l_orderkey <= 1000 GROUP BY l_orderkey""".stripMargin) { (s, d) =>
      // higher-order filter/aggregate over an array<struct> column (integral
      // qty so the fold is order-independent — collect_list order is not
      // deterministic)
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 1000)
        .groupBy("l_orderkey")
        .agg(collect_list(struct(col("l_linenumber").as("ln"),
          floor(col("l_quantity")).as("qty"))).as("items"))
        .select(col("l_orderkey"),
          size(col("items")).as("n_items"),
          size(filter(col("items"), s => s.getField("qty") > 25)).as("n_big"),
          aggregate(col("items"), lit(0L), (acc, s) => acc + s.getField("qty"))
            .as("total_qty"))
    })

  // ------------------------------------------------------------ vector / knn

  private def vector: Seq[Q] = Seq(

    q("q_knn_cosine",
      """WITH probe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 6) AS sim
        |FROM embeddings, probe
        |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(probe))
        .select(col("vec_id"), col("label"),
          round(cosine_sim(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },

    q("q_knn_l2",
      """WITH probe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
        |SELECT vec_id, label,
        |  round(list_distance(embedding::DOUBLE[], qv::DOUBLE[]), 6) AS dist
        |FROM embeddings, probe
        |ORDER BY dist, vec_id LIMIT 20""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = e.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(probe))
        .select(col("vec_id"), col("label"),
          round(l2_dist(col("embedding"), col("qv")), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(20)
    },

    // Matryoshka truncated retrieval: exact cosine top-20 on the leading
    // 16 of 64 dims (rank-only output, the q_knn_join float-tie recipe).
    q("q_matryoshka",
      """WITH probe AS (
        |  SELECT embedding[1:16]::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, rn FROM (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding[1:16]::DOUBLE[], qv) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e, probe) WHERE rn <= 20""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = indexArtifact(s"matryoshka-probe:$d") {
        e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).toArray
      }
      ops.Retrieval.ranked(
        ops.Quantize.matryoshkaTopK(e, "embedding", "vec_id", probe,
          k = 20, dims = 16),
        "vec_id", "score")
        .select(col("vec_id"), col("rank").as("rn"))
    },

    // Late-interaction MaxSim retrieval (Retrieval.maxSimRerank over the
    // codegen MaxSim Expression; ColBERT arithmetic, Khattab & Zaharia
    // 2020 — r17 verdict item 5): multi-vector docs/queries synthesized
    // deterministically by slicing each 64-dim embedding into 4 token
    // vectors of 16 dims (both engines slice identically), candidates
    // BOUNDED by a first-stage exact-cosine top-8 per query (the
    // q_knn_join plan — never corpus x queries), then MaxSim re-ranks to
    // top-4. The oracle replays the shortlist ranking, then the exact
    // kernel: per query token, greatest of the 4 doc-token cosines
    // (identical sequential double arithmetic), summed in token order,
    // round-6. rn ranks on the raw double (vec_id tie-break) like the
    // TopKByScore aggregate.
    q("q_maxsim",
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 3),
        |short AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.q_id, e.vec_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
        |                 e.vec_id) AS srn
        |    FROM embeddings e, q) WHERE srn <= 8),
        |qm AS (SELECT vec_id AS q_id,
        |         embedding[1:16]::DOUBLE[] AS q1, embedding[17:32]::DOUBLE[] AS q2,
        |         embedding[33:48]::DOUBLE[] AS q3, embedding[49:64]::DOUBLE[] AS q4
        |       FROM embeddings WHERE vec_id < 3),
        |dm AS (SELECT vec_id,
        |         embedding[1:16]::DOUBLE[] AS d1, embedding[17:32]::DOUBLE[] AS d2,
        |         embedding[33:48]::DOUBLE[] AS d3, embedding[49:64]::DOUBLE[] AS d4
        |       FROM embeddings),
        |ms AS (
        |  SELECT s.q_id, s.vec_id,
        |    greatest(list_cosine_similarity(q1,d1), list_cosine_similarity(q1,d2),
        |             list_cosine_similarity(q1,d3), list_cosine_similarity(q1,d4))
        |    + greatest(list_cosine_similarity(q2,d1), list_cosine_similarity(q2,d2),
        |             list_cosine_similarity(q2,d3), list_cosine_similarity(q2,d4))
        |    + greatest(list_cosine_similarity(q3,d1), list_cosine_similarity(q3,d2),
        |             list_cosine_similarity(q3,d3), list_cosine_similarity(q3,d4))
        |    + greatest(list_cosine_similarity(q4,d1), list_cosine_similarity(q4,d2),
        |             list_cosine_similarity(q4,d3), list_cosine_similarity(q4,d4)) AS msim
        |  FROM short s JOIN qm USING (q_id) JOIN dm USING (vec_id))
        |SELECT q_id, vec_id, round(msim, 6) AS maxsim, rn FROM (
        |  SELECT q_id, vec_id, msim,
        |    CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY msim DESC, vec_id) AS INT) AS rn
        |  FROM ms) WHERE rn <= 4""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      def mv(c: Column) = array(slice(c, 1, 16), slice(c, 17, 16),
        slice(c, 33, 16), slice(c, 49, 16))
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val cands = ops.Knn.knnJoin(queries, "q_id", "qv",
          e, "vec_id", "embedding", k = 8)
        .select(col("q_id"), col("vec_id"))
      val qm = queries.select(col("q_id"), mv(col("qv")).as("qvecs"))
      val dm = e.select(col("vec_id"), mv(col("embedding")).as("dvecs"))
      ops.Retrieval.maxSimRerank(cands, qm, "q_id", "qvecs",
          dm, "vec_id", "dvecs", k = 4)
        .select(col("q_id"), col("vec_id"),
          round(col("maxsim"), 6).as("maxsim"), col("rn"))
    },

    // MMR diversity re-rank of a top-12 shortlist (k=5, λ=0.7): the greedy
    // argmax runs in INTEGER micro-space (7·relμ − 3·maxSimμ, tie → id) so
    // both engines replay the identical pick sequence; the oracle unrolls
    // the five steps as plain CTE stages — no recursion needed at fixed k.
    q("q_mmr_rerank", {
      val stages = (2 to 5).map { i =>
        s"""p$i AS (
           |  SELECT c.vec_id FROM short c
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM ps${i - 1})
           |  ORDER BY 7*c.relm - 3*(SELECT max(sm) FROM sims
           |    WHERE ia = c.vec_id AND ib IN (SELECT vec_id FROM ps${i - 1})) DESC,
           |    c.vec_id LIMIT 1),
           |ps$i AS (SELECT vec_id FROM ps${i - 1}
           |         UNION ALL SELECT vec_id FROM p$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH probe AS (
        |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |short AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    CAST(round(list_cosine_similarity(embedding::DOUBLE[], qv)
        |      * 1000000.0) AS BIGINT) AS relm
        |  FROM embeddings, probe
        |  ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id
        |  LIMIT 12),
        |sims AS MATERIALIZED (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    CAST(round(list_cosine_similarity(a.v, b.v) * 1000000.0) AS BIGINT) AS sm
        |  FROM short a JOIN short b ON a.vec_id <> b.vec_id),
        |p1 AS (SELECT vec_id FROM short ORDER BY relm DESC, vec_id LIMIT 1),
        |ps1 AS (SELECT vec_id FROM p1),
        |$stages
        |SELECT vec_id, 1 AS rn FROM p1
        |UNION ALL SELECT vec_id, 2 FROM p2
        |UNION ALL SELECT vec_id, 3 FROM p3
        |UNION ALL SELECT vec_id, 4 FROM p4
        |UNION ALL SELECT vec_id, 5 FROM p5""".stripMargin
    }) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = indexArtifact(s"matryoshka-probe:$d") {
        e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).toArray
      }
      ops.Retrieval.mmrRerank(
        Knn.topK(e, "embedding", "vec_id", probe, 12, "cosine"),
        "vec_id", "embedding", "score", k = 5, lambdaTenths = 7)
    },

    q("q_vector_stats",
      """SELECT label, count(*) AS n,
        |  CAST(len(embedding) AS INT) AS dim,
        |  round(avg(list_cosine_similarity(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS self_sim
        |FROM embeddings GROUP BY label, len(embedding)""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .groupBy(col("label"), size(col("embedding")).as("dim"))
        .agg(count(lit(1)).as("n"),
          round(avg(cosine_sim(col("embedding"), col("embedding"))), 6).as("self_sim"))
        .select(col("label"), col("n"), col("dim"), col("self_sim"))
    },

    q("q_array_fns",
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  array_to_string(list_transform(embedding[1:4],
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 100000) AS BIGINT) AS VARCHAR)), ',') AS head4,
        |  array_to_string(list_transform(list_sort(embedding[1:4]),
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 100000) AS BIGINT) AS VARCHAR)), ',') AS head4_sorted,
        |  round(list_aggregate(embedding::DOUBLE[], 'sum'), 5) AS vec_sum,
        |  CAST(list_contains(embedding, embedding[1]) AS INT) AS has_first
        |FROM embeddings WHERE vec_id % 5 = 0""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          arrCsv(slice(col("embedding"), 1, 4), 100000L).as("head4"),
          arrCsv(sort_array(slice(col("embedding"), 1, 4)), 100000L).as("head4_sorted"),
          round(aggregate(col("embedding").cast("array<double>"), lit(0.0), _ + _), 5).as("vec_sum"),
          array_contains(col("embedding"), element_at(col("embedding"), 1))
            .cast("int").as("has_first"))
    },

    q("q_explode",
      """SELECT vec_id,
        |  CAST(generate_subscripts(embedding[1:8], 1) - 1 AS INT) AS pos,
        |  unnest(embedding[1:8]) AS val
        |FROM embeddings WHERE vec_id < 10""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 10)
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 8)))
        .withColumnRenamed("pos", "pos")
        .withColumnRenamed("col", "val")
    },

    q("q_explode_outer",
      """SELECT e.vec_id, u.v AS val
        |FROM embeddings e
        |LEFT JOIN LATERAL (
        |  SELECT unnest(CASE WHEN e.vec_id % 2 = 0 THEN e.embedding[1:3]
        |                     ELSE [] END) AS v) u ON true
        |WHERE e.vec_id < 20""".stripMargin) { (s, d) =>
      // explode_outer: generator that PRESERVES rows whose array is empty
      // (null output) — plain explode drops them
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 20)
        .select(col("vec_id"),
          explode_outer(when(col("vec_id") % 2 === 0, slice(col("embedding"), 1, 3))
            .otherwise(array().cast("array<float>"))).as("val"))
    },

    q("q_centroid",
      """WITH ex AS (
        |  SELECT label,
        |    generate_subscripts(embedding, 1) AS idx,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, idx, avg(v) AS m FROM ex GROUP BY label, idx)
        |SELECT label,
        |  array_to_string(list_transform(list(m ORDER BY idx),
        |    x -> CAST(CAST(round(x * 10000) AS BIGINT) AS VARCHAR)), ',') AS centroid
        |FROM dims GROUP BY label""".stripMargin) { (s, d) =>
      val centroid = udaf(graft.functions.CentroidAggregator)
      Tables.embeddings(s, d)
        .groupBy("label")
        .agg(arrCsv(centroid(col("embedding")), 10000L).as("centroid"))
    },

    // Distributed quantized Lloyd k-means (Knn.kmeansFit): corpus-scale
    // centroid refinement, bit-reproducible because the whole trajectory
    // is exact integer arithmetic — coordinates on the 10⁻⁶ grid, integer
    // distances, argmin ties to the smaller cell, half-away-from-zero
    // means re-quantized each update, init = first-k-by-id. The oracle
    // replays BOTH Lloyd iterations in SQL (cross-join assignment with the
    // same tie-break, HUGEINT mean rounding via integer division `//`) —
    // any engine-side float leak or order-dependence breaks the hash.
    q("q_kmeans",
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, qv AS cv
        |  FROM q ORDER BY vec_id LIMIT 4),
        |a1 AS (
        |  SELECT vec_id, qv, cell FROM (
        |    SELECT q.vec_id, q.qv, c.cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), c.cell) AS rn
        |    FROM q CROSS JOIN c0 c)
        |  WHERE rn = 1),
        |m1 AS (
        |  SELECT cell, idx, sum(v) AS s, count(*) AS n
        |  FROM (SELECT cell, unnest(qv) AS v,
        |        generate_subscripts(qv, 1) AS idx FROM a1)
        |  GROUP BY cell, idx),
        |c1 AS (
        |  SELECT c0.cell, coalesce(u.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN (
        |    SELECT cell, list(CAST(CASE WHEN s < 0 THEN -((2*(-s) + n) // (2*n))
        |      ELSE (2*s + n) // (2*n) END AS BIGINT) ORDER BY idx) AS cv
        |    FROM m1 GROUP BY cell) u USING (cell)),
        |a2 AS (
        |  SELECT vec_id, qv, cell FROM (
        |    SELECT q.vec_id, q.qv, c.cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), c.cell) AS rn
        |    FROM q CROSS JOIN c1 c)
        |  WHERE rn = 1),
        |m2 AS (
        |  SELECT cell, idx, sum(v) AS s, count(*) AS n
        |  FROM (SELECT cell, unnest(qv) AS v,
        |        generate_subscripts(qv, 1) AS idx FROM a2)
        |  GROUP BY cell, idx),
        |c2 AS (
        |  SELECT c1.cell, coalesce(u.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN (
        |    SELECT cell, list(CAST(CASE WHEN s < 0 THEN -((2*(-s) + n) // (2*n))
        |      ELSE (2*s + n) // (2*n) END AS BIGINT) ORDER BY idx) AS cv
        |    FROM m2 GROUP BY cell) u USING (cell))
        |SELECT c2.cell, CAST(coalesce(n2.n, 0) AS BIGINT) AS n,
        |  array_to_string(c2.cv, ',') AS centroid
        |FROM c2 LEFT JOIN (SELECT cell, count(*) AS n FROM a2 GROUP BY cell) n2
        |  USING (cell)""".stripMargin) { (s, d) =>
      ops.Knn.kmeansFit(Tables.embeddings(s, d), "embedding", "vec_id",
          k = 4, iterations = 2)
        .select(col("cell"), col("n"),
          array_join(transform(col("centroid"), _.cast("string")), ",").as("centroid"))
    },

    q("q_knn_join",
      """SELECT q_id, vec_id, rn FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id,
        |    row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |                                      q.embedding::DOUBLE[]) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 3) q
        |) WHERE rn <= 4""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Knn.knnJoin(queries, "q_id", "q_vec", e, "vec_id", "embedding", 4)
        .select(col("q_id"), col("vec_id"), col("rn"))
    },

    // Contrastive hard-negative mining: per query, the top-5 most-similar
    // vectors with a DIFFERENT label (rank-only output, the q_knn_join
    // float-tie recipe: order is fully determined by sim desc + vec_id, so
    // no float crosses the hash compare).
    q("q_hard_negatives",
      """SELECT q_id, vec_id, rn FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id,
        |    row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |                                      q.embedding::DOUBLE[]) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 6) q
        |  WHERE e.label IS DISTINCT FROM q.label
        |) WHERE rn <= 5""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 6)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label"))
      Knn.hardNegatives(queries, "q_id", "q_vec", "label",
          e, "vec_id", "embedding", "label", 5)
        .select(col("q_id"), col("vec_id"), col("rn"))
    },

    // Okapi BM25 keyword retrieval — the engine-side keyword half of the
    // reference's serving stack (its OpenSearch index analyzes `text` for
    // BM25 next to the knn_vector field, index-creation lambda :69-96).
    // One aggregate pass → a broadcast stats row; scoring + top-k is a
    // single scan into TakeOrderedAndProject. Terms: 'dup' is rare in the
    // corpus (high idf — it marks the planted duplicate families), the
    // other two near-uniform; arithmetic shape mirrored verbatim in SQL
    // (literal sums like 1.2 + 1.0 are written as sums so both engines
    // round the same way).
    q("q_bm25_topk",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        |  CAST(sum(CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |  CAST(sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |  CAST(sum(CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(tk, x -> x = 'dup')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'merge')) AS DOUBLE) AS tf2,
        |    (CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS m,
        |    dl, n, sumdl, df0, df1, df2
        |  FROM d, st)
        |SELECT doc_id,
        |  round(
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * (1.2 + 1.0))
        |      / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
        |      / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
        |      / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))), 6) AS bm25,
        |  CAST(m AS INT) AS n_matched
        |FROM sc WHERE m > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        Seq("dup", "spark", "merge"), k = 20)
    },

    // Hybrid retrieval: BM25 keyword list ⊕ cosine-knn vector list fused by
    // reciprocal rank (RRF, Cormack et al. 2009 — OpenSearch's default
    // hybrid combiner). Both inputs are already-reduced top-50 lists, so
    // the fusion cost is O(n·lists) regardless of corpus size; ranks are
    // assigned over (round(score,6) DESC, id) in both engines, and the RRF
    // sum of exact reciprocals of integer ranks is drift-free.
    q("q_hybrid_rrf",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        |  CAST(sum(CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |  CAST(sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |  CAST(sum(CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(tk, x -> x = 'dup')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'merge')) AS DOUBLE) AS tf2,
        |    (CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS m,
        |    dl, n, sumdl, df0, df1, df2
        |  FROM d, st),
        |bm AS (
        |  SELECT doc_id,
        |    round(
        |      ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * (1.2 + 1.0))
        |        / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
        |        / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
        |        / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))), 6) AS bm25
        |  FROM sc WHERE m > 0
        |  ORDER BY bm25 DESC, doc_id LIMIT 50),
        |bmr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        |  FROM bm),
        |probe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
        |vs AS (
        |  SELECT vec_id AS doc_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 6) AS sim
        |  FROM embeddings, probe
        |  ORDER BY sim DESC, doc_id LIMIT 50),
        |vsr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rk
        |  FROM vs),
        |u AS (SELECT doc_id, rk FROM bmr UNION ALL SELECT doc_id, rk FROM vsr)
        |SELECT doc_id,
        |  round(sum(1.0 / (60.0 + CAST(rk AS DOUBLE))), 6) AS rrf,
        |  CAST(count(*) AS INT) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val keyword = Retrieval.ranked(
        Retrieval.bm25TopK(docs, "text", "doc_id",
          Seq("dup", "spark", "merge"), k = 50),
        "doc_id", "bm25")
      val probe = e.filter(col("vec_id") === 3).select(col("embedding").as("qv"))
      val vecTop = e.crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          round(cosine_sim(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("doc_id"))
        .limit(50)
      val vector = Retrieval.ranked(vecTop, "doc_id", "sim")
      Retrieval.rrfFuse(Seq(keyword, vector), "doc_id", k = 20)
    },

    // Score-NORMALIZED hybrid fusion (Retrieval.normalizedFuse) over the
    // same BM25 + cosine top-50 lists as q_hybrid_rrf: min-max per list,
    // 0.7/0.3 weighted sum -- OpenSearch's normalization-processor
    // combiner, keeping score magnitude where RRF keeps only rank. Both
    // engines normalize the identical round-6 scores with the identical
    // IEEE expression; the two-term weighted add is commutative, so the
    // round-6 fused score is drift-free.
    q("q_hybrid_norm",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        |  CAST(sum(CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |  CAST(sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |  CAST(sum(CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(tk, x -> x = 'dup')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'merge')) AS DOUBLE) AS tf2,
        |    (CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS m,
        |    dl, n, sumdl, df0, df1, df2
        |  FROM d, st),
        |bm AS (
        |  SELECT doc_id,
        |    round(
        |      ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * (1.2 + 1.0))
        |        / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
        |        / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
        |        / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))), 6) AS s
        |  FROM sc WHERE m > 0
        |  ORDER BY s DESC, doc_id LIMIT 50),
        |probe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
        |vs AS (
        |  SELECT vec_id AS doc_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 6) AS s
        |  FROM embeddings, probe
        |  ORDER BY s DESC, doc_id LIMIT 50),
        |bmn AS (
        |  SELECT doc_id,
        |    0.7 * (CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
        |           ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
        |           END) AS ns
        |  FROM bm),
        |vsn AS (
        |  SELECT doc_id,
        |    0.3 * (CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
        |           ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
        |           END) AS ns
        |  FROM vs),
        |u AS (SELECT doc_id, ns FROM bmn UNION ALL SELECT doc_id, ns FROM vsn)
        |SELECT doc_id, round(sum(ns), 6) AS fused, CAST(count(*) AS INT) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY fused DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val keyword = Retrieval.bm25TopK(docs, "text", "doc_id",
          Seq("dup", "spark", "merge"), k = 50)
        .select(col("doc_id"), col("bm25").as("score"))
      val probe = e.filter(col("vec_id") === 3).select(col("embedding").as("qv"))
      val vector = e.crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          round(cosine_sim(col("embedding"), col("qv")), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
      Retrieval.normalizedFuse(Seq((keyword, 0.7), (vector, 0.3)),
        "doc_id", "score", k = 20)
    },

    // Retrieval context assembly (Retrieval.assembleContext): the last RAG
    // serving step — hybrid-RRF top-20 shortlist → SimHash near-dup drop
    // (worse rank loses; Hamming ≤ 7 = the blocking's exact-recall range,
    // so the oracle's brute-force 20×20 pairing equals the operator's
    // chunk-blocked pairs) → next-fit token pack against a 400-token
    // budget (bin 0 = rank-1 always + the maximal prefix whose running
    // token sum fits). The oracle recomputes the fnv64/simhash signatures
    // independently (the q_simhash_neardup machinery, restricted to the
    // 20-doc shortlist vocabulary).
    q("q_context_pack", {
      s"""WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        |  CAST(sum(CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |  CAST(sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |  CAST(sum(CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(tk, x -> x = 'dup')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'merge')) AS DOUBLE) AS tf2,
        |    (CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS m,
        |    dl, n, sumdl, df0, df1, df2
        |  FROM d, st),
        |bm AS (
        |  SELECT doc_id,
        |    round(
        |      ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * (1.2 + 1.0))
        |        / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
        |        / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
        |        / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))), 6) AS bm25
        |  FROM sc WHERE m > 0
        |  ORDER BY bm25 DESC, doc_id LIMIT 50),
        |bmr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        |  FROM bm),
        |probe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
        |vs AS (
        |  SELECT vec_id AS doc_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 6) AS sim
        |  FROM embeddings, probe
        |  ORDER BY sim DESC, doc_id LIMIT 50),
        |vsr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rk
        |  FROM vs),
        |u AS (SELECT doc_id, rk FROM bmr UNION ALL SELECT doc_id, rk FROM vsr),
        |fz AS (
        |  SELECT doc_id, round(sum(1.0 / (60.0 + CAST(rk AS DOUBLE))), 6) AS rrf
        |  FROM u GROUP BY doc_id
        |  ORDER BY rrf DESC, doc_id LIMIT 20),
        |fr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
        |  FROM fz),
        |cd AS MATERIALIZED (
        |  SELECT f.doc_id, f.rk, t.tk, len(t.tk) AS nt
        |  FROM fr f JOIN tk t ON t.doc_id = f.doc_id),
        |occ AS (SELECT doc_id, w, count(*)::BIGINT AS cnt
        |        FROM (SELECT doc_id, unnest(tk) AS w FROM cd) GROUP BY doc_id, w),
        |vocab AS (SELECT DISTINCT w FROM occ),
        |${fnvFoldCtes("wfold", "vocab", "w", "w")},
        |whs AS (
        |  SELECT k AS w, CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
        |                 THEN ch - 18446744073709551616::HUGEINT ELSE ch END AS BIGINT) AS hs
        |  FROM wfold),
        |votes AS (
        |  SELECT o.doc_id, sum(o.cnt)::BIGINT AS n,
        |$simhashVoteCols
        |  FROM occ o JOIN whs ON whs.w = o.w
        |  GROUP BY o.doc_id),
        |sims AS (
        |  SELECT doc_id,
        |   ($simhashSimTerms) AS sh
        |  FROM votes),
        |cds AS MATERIALIZED (
        |  SELECT c.doc_id, c.rk, c.nt, coalesce(s.sh, 0) AS sh
        |  FROM cd c LEFT JOIN sims s ON s.doc_id = c.doc_id),
        |dr AS (
        |  SELECT DISTINCT CASE WHEN a.rk < b.rk THEN b.doc_id ELSE a.doc_id END AS doc_id
        |  FROM cds a JOIN cds b
        |    ON a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 7),
        |sv AS (SELECT * FROM cds WHERE doc_id NOT IN (SELECT doc_id FROM dr)),
        |po AS (
        |  SELECT doc_id, nt, row_number() OVER (ORDER BY rk) AS pos,
        |    sum(nt) OVER (ORDER BY rk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM sv)
        |SELECT doc_id, CAST(pos AS INT) AS ctx_pos, CAST(nt AS INT) AS n_tokens,
        |  CAST(cum AS BIGINT) AS cum_tokens, nt > 400 AS oversized
        |FROM po WHERE pos = 1 OR cum <= 400
        |ORDER BY ctx_pos""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val keyword = Retrieval.ranked(
        Retrieval.bm25TopK(docs, "text", "doc_id",
          Seq("dup", "spark", "merge"), k = 50),
        "doc_id", "bm25")
      val probe = e.filter(col("vec_id") === 3).select(col("embedding").as("qv"))
      val vecTop = e.crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          round(cosine_sim(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("doc_id"))
        .limit(50)
      val vector = Retrieval.ranked(vecTop, "doc_id", "sim")
      val fused = Retrieval.rrfFuse(Seq(keyword, vector), "doc_id", k = 20)
      val shortlist = Retrieval.ranked(fused, "doc_id", "rrf")
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
      Retrieval.assembleContext(shortlist, "doc_id", "text", "rank",
        budgetTokens = 400, maxHamming = 7)
    },

    // RAG grounding score (Retrieval.groundingScore) — the post-generation
    // faithfulness check after assembleContext: fraction of the answer's
    // distinct bigrams present in the cited context (public ROUGE-precision
    // / RAGAS-faithfulness-proxy arithmetic, no LLM). Planted answers from
    // id arithmetic: doc_id%3=0 quotes the context's first 12 tokens
    // (grounded), %3=1 vowel-rotates them (hallucinated — only vowel-free
    // adjacent pairs can still match), %3=2 quotes 6 and rotates 6. The
    // oracle restates construction AND bigram-set scoring independently.
    q("q_grounding",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '') AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN array_to_string(toks[1:12], ' ')
        |      WHEN 1 THEN translate(array_to_string(toks[1:12], ' '),
        |                            'aeiou', 'eioua')
        |      ELSE array_to_string(toks[1:6], ' ') || ' ' ||
        |           translate(array_to_string(toks[7:12], ' '), 'aeiou', 'eioua')
        |    END AS answer,
        |    array_to_string(toks, ' ') AS context
        |  FROM tk),
        |ng AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(trim(answer), '\s+')), 1)),
        |      i -> string_split_regex(trim(answer), '\s+')[i] || ' ' ||
        |           string_split_regex(trim(answer), '\s+')[i + 1])) AS ang,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(trim(context), '\s+')), 1)),
        |      i -> string_split_regex(trim(context), '\s+')[i] || ' ' ||
        |           string_split_regex(trim(context), '\s+')[i + 1])) AS cng
        |  FROM pairs WHERE answer <> ''),
        |scored AS (
        |  SELECT doc_id, len(ang) AS n_ngrams,
        |    len(list_filter(ang, x -> list_contains(cng, x))) AS n_grounded
        |  FROM ng)
        |SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
        |  CAST(n_grounded AS BIGINT) AS n_grounded,
        |  CASE WHEN n_ngrams > 0
        |       THEN round(n_grounded / CAST(n_ngrams AS DOUBLE), 6)
        |       ELSE 0.0 END AS grounding_score
        |FROM scored""".stripMargin) { (s, d) =>
      val toks = ops.Dedup.tokens(col("text"))
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("_toks"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            array_join(slice(col("_toks"), 1, 12), " "))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            translate(array_join(slice(col("_toks"), 1, 12), " "),
              "aeiou", "eioua"))
          .otherwise(concat(array_join(slice(col("_toks"), 1, 6), " "),
            lit(" "),
            translate(array_join(slice(col("_toks"), 7, 6), " "),
              "aeiou", "eioua"))).as("answer"),
          array_join(col("_toks"), " ").as("context"))
        .filter(col("answer") =!= "")
      ops.Retrieval.groundingScore(pairs, "answer", "context", n = 2)
        .select(col("doc_id"), col("n_ngrams"), col("n_grounded"),
          col("grounding_score"))
    },

    // Multi-query BM25 retrieval join (the keyword knnJoin): a query TABLE
    // (first-5-token prefixes of docs 0–2, derived identically in both
    // engines) scores against the corpus through one inverted-index pass.
    // Per-(query, doc) scores accumulate as exact round(score·10⁶) LONGs —
    // join-row order is nondeterministic, so the fixed-term-list scan's
    // plain double sum would drift; ranking is on the exact LONG.
    q("q_bm25_join",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl FROM d),
        |dt AS (
        |  SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tk) AS w FROM d)
        |  GROUP BY doc_id, dl, w),
        |qt AS (
        |  SELECT DISTINCT doc_id AS q_id, unnest(tk[1:5]) AS w
        |  FROM tk WHERE doc_id < 3),
        |dfr AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS dfw
        |  FROM dt WHERE w IN (SELECT w FROM qt) GROUP BY w),
        |sc AS (
        |  SELECT qt.q_id, dt.doc_id,
        |    CAST(round((ln(1.0 + (n - dfw + 0.5) / (dfw + 0.5)) * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))))
        |      * 1000000.0) AS BIGINT) AS s
        |  FROM dt JOIN dfr USING (w) JOIN qt USING (w), st),
        |ag AS (SELECT q_id, doc_id, sum(s) AS score FROM sc GROUP BY q_id, doc_id),
        |rk AS (
        |  SELECT q_id, doc_id, score,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
        |  FROM ag)
        |SELECT q_id, doc_id, round(CAST(score AS DOUBLE) / 1000000.0, 6) AS bm25,
        |  CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 15""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 5)).as("q_text"))
      Retrieval.bm25Join(queries, "q_id", "q_text", docs, "doc_id", "text", k = 15)
    },

    // Retrieval-quality EVAL (Retrieval.retrievalEval): recall@10,
    // precision@10, MRR@10, graded nDCG@10 of the bm25 serving path
    // against planted id-arithmetic relevance judgments (rel 3 for the
    // query's own doc, 2/1 for +7/+14 — the q_image_neardup synthesis
    // idiom), plus the macro row (q_id −1). Ranks and counts are exact
    // integers; each metric is a round-half-away micro-LONG and the macro
    // is sum(LONG)/n, so the oracle reproduces every digit. The oracle
    // replays the q_bm25_join micro-integer scoring for the result lists,
    // then the same metric arithmetic.
    q("q_retrieval_eval",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl FROM d),
        |dt AS (
        |  SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tk) AS w FROM d)
        |  GROUP BY doc_id, dl, w),
        |qt AS (
        |  SELECT DISTINCT doc_id AS q_id, unnest(tk[1:5]) AS w
        |  FROM tk WHERE doc_id % 997 = 3),
        |dfr AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS dfw
        |  FROM dt WHERE w IN (SELECT w FROM qt) GROUP BY w),
        |sc AS (
        |  SELECT qt.q_id, dt.doc_id,
        |    CAST(round((ln(1.0 + (n - dfw + 0.5) / (dfw + 0.5)) * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))))
        |      * 1000000.0) AS BIGINT) AS s
        |  FROM dt JOIN dfr USING (w) JOIN qt USING (w), st),
        |ag AS (SELECT q_id, doc_id, sum(s) AS score FROM sc GROUP BY q_id, doc_id),
        |rk AS (
        |  SELECT q_id, doc_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
        |  FROM ag),
        |tr AS (
        |  SELECT q.q_id, dd.doc_id,
        |    CASE WHEN dd.doc_id = q.q_id THEN 3
        |         WHEN dd.doc_id = q.q_id + 7 THEN 2 ELSE 1 END AS rel
        |  FROM (SELECT DISTINCT q_id FROM qt) q
        |  JOIN (SELECT doc_id FROM documents) dd
        |    ON dd.doc_id IN (q.q_id, q.q_id + 7, q.q_id + 14)),
        |ideal AS (
        |  SELECT q_id, count(*) AS n_rel,
        |    sum(CASE WHEN i <= 10 THEN (pow(2, rel) - 1.0) / log2(i + 1.0) ELSE 0 END) AS idcg
        |  FROM (SELECT q_id, rel,
        |          row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, doc_id) AS i
        |        FROM tr)
        |  GROUP BY q_id),
        |ht AS (
        |  SELECT r.q_id, count(*) AS hits, min(r.rank) AS first_rank,
        |    sum((pow(2, tr.rel) - 1.0) / log2(r.rank + 1.0)) AS dcg
        |  FROM rk r JOIN tr ON r.q_id = tr.q_id AND r.doc_id = tr.doc_id
        |  WHERE r.rank <= 10
        |  GROUP BY r.q_id),
        |pq AS (
        |  SELECT ideal.q_id, n_rel, coalesce(hits, 0) AS hits,
        |    CAST(round(coalesce(hits, 0) * 1000000.0 / n_rel) AS BIGINT) AS rec_m,
        |    CAST(round(coalesce(hits, 0) * 1000000.0 / 10) AS BIGINT) AS prec_m,
        |    CASE WHEN first_rank IS NULL THEN 0
        |         ELSE CAST(round(1000000.0 / first_rank) AS BIGINT) END AS rr_m,
        |    CASE WHEN dcg IS NULL OR idcg <= 0 THEN 0
        |         ELSE CAST(round(1000000.0 * dcg / idcg) AS BIGINT) END AS ndcg_m
        |  FROM ideal LEFT JOIN ht ON ideal.q_id = ht.q_id)
        |SELECT q_id, CAST(n_rel AS BIGINT) AS n_rel, CAST(hits AS BIGINT) AS hits,
        |  rec_m / 1000000.0 AS recall_k, prec_m / 1000000.0 AS precision_k,
        |  rr_m / 1000000.0 AS rr, ndcg_m / 1000000.0 AS ndcg
        |FROM pq
        |UNION ALL
        |SELECT -1, CAST(count(*) AS BIGINT), CAST(sum(hits) AS BIGINT),
        |  CAST(round(sum(rec_m) * 1.0 / count(*)) AS BIGINT) / 1000000.0,
        |  CAST(round(sum(prec_m) * 1.0 / count(*)) AS BIGINT) / 1000000.0,
        |  CAST(round(sum(rr_m) * 1.0 / count(*)) AS BIGINT) / 1000000.0,
        |  CAST(round(sum(ndcg_m) * 1.0 / count(*)) AS BIGINT) / 1000000.0
        |FROM pq""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val qs = docs.filter(pmod(col("doc_id"), lit(997)) === 3)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 5)).as("q_text"))
      val results = Retrieval.bm25Join(qs, "q_id", "q_text", docs,
        "doc_id", "text", k = 15)
      val truth = qs.select(col("q_id"))
        .select(col("q_id"), explode(array(
          struct(col("q_id").as("doc_id"), lit(3).as("rel")),
          struct((col("q_id") + 7).as("doc_id"), lit(2).as("rel")),
          struct((col("q_id") + 14).as("doc_id"), lit(1).as("rel")))).as("_t"))
        .select(col("q_id"), col("_t.doc_id").as("doc_id"), col("_t.rel").as("rel"))
        .join(docs.select(col("doc_id")), Seq("doc_id"))
      Retrieval.retrievalEval(results, truth, "q_id", "doc_id", "rank", "rel",
        k = 10)
    })

  // ------------------------------------------------- LLM-pipeline operators

  private def llmOps: Seq[Q] = Seq(

    // subword_count is the vocabulary-free BPE-ish proxy: word/digit runs
    // and punctuation runs counted as separate segments — both engines
    // segment with the same \p{L}/\p{N} classes (Java regex / RE2 agree on
    // Unicode script classes for this corpus).
    q("q_text_stats",
      """SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS INT) AS token_count,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), t -> t <> ''))
        |    + len(list_filter(string_split_regex(text, '[\p{L}\p{N}\s]+'), t -> t <> '')) AS INT) AS subword_count,
        |  CAST(length(text) AS INT) AS char_count,
        |  n_chars
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("token_count"),
          TextAnalysis.subwordCount(col("text")).as("subword_count"),
          length(col("text")).as("char_count"),
          col("n_chars"))
    },

    // Passage chunking — the step upstream of the reference's own
    // `passage_embedding` schema: fixed 32-token windows at stride 24
    // (overlapping, RAG-style). Generator expansion only, no shuffle; each
    // document chunks independently at any corpus size.
    q("q_chunk_passages",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, tk, unnest(range(0, greatest(len(tk) - 1, 0) + 1, 24)) AS s
        |  FROM toks)
        |SELECT doc_id, CAST(s // 24 AS INT) AS chunk_idx,
        |  array_to_string(list_slice(tk, s + 1, s + 32), ' ') AS passage,
        |  CAST(least(32, len(tk) - s) AS INT) AS n_tok
        |FROM st""".stripMargin) { (s, d) =>
      TextAnalysis.chunkPassages(Tables.documents(s, d), "text", "doc_id",
        size = 32, stride = 24)
    },

    // BPE merge TRAINING (TextAnalysis.bpeMerges): the first 8 learned
    // merges over the corpus word-frequency table — each step one
    // weighted pair-count aggregate, a deterministic top-1, and a greedy
    // left-to-right merge via a single replace over the double-space
    // symbol encoding. The oracle unrolls the identical loop (generated
    // CTE chain, the q_pagerank pattern).
    q("q_bpe_train", bpeOracle(nMerges = 8)) { (s, d) =>
      ops.TextAnalysis.bpeMerges(Tables.documents(s, d), "text", nMerges = 8)
    },

    // The PRODUCTION trainer (TextAnalysis.bpeMergesLocal): same merge
    // trajectory, but after the one corpus-scale vocab pass the merge
    // loop runs driver-local over the vocab-bounded artifact —
    // incremental pair counts + lazy-invalidation heap — so a 30k-merge
    // tokenizer costs driver CPU, not one Spark job per merge (measured:
    // 89 full-exhaustion merges on sf0.1 in 0.35 s vs 22.3 s distributed;
    // 2000 merges over a 50k-word synthetic vocab in 1.6 s). Driver-gated
    // against the SAME oracle as q_bpe_train — the cross-engine proof
    // that local ≡ distributed.
    q("q_bpe_train_local", bpeOracle(nMerges = 8)) { (s, d) =>
      ops.TextAnalysis.bpeMergesLocal(Tables.documents(s, d), "text", nMerges = 8)
    },

    // BPE merge APPLICATION (functions.BpeEncode) — the train→encode
    // lifecycle in one registered row: the distributed trainer's merge
    // table is collected (nMerges-bounded artifact, memoized like every
    // index artifact), baked into the codegen kernel as a plan-time
    // literal, and applied per document in ONE scan-side pass — the
    // actual tokenizer a training pipeline runs per document at 100 TB
    // (no shuffle; merges broadcast). Verified EXACTLY: per-doc subword
    // count, the first-10-symbol prefix, and an md5 over the full
    // subword sequence, against a DuckDB oracle that replays the same
    // merges through the trainer's own replace chain per distinct word.
    q("q_bpe_encode", bpeEncodeOracle(nMerges = 8)) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = indexArtifact(s"bpe-merges:8:$d") {
        ops.TextAnalysis.bpeMerges(docs, "text", nMerges = 8)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
      }
      docs.select(col("doc_id"),
          bpe_encode(Dedup.tokens(col("text")), merges).as("_syms"))
        .filter(size(col("_syms")) > 0)
        .select(col("doc_id"),
          size(col("_syms")).as("n_sub"),
          concat_ws(" ", slice(col("_syms"), 1, 10)).as("sub_prefix"),
          md5(concat_ws(" ", col("_syms"))).as("sub_md5"))
    },

    // UNIGRAM-LM tokenizer (Unigram.unigramTrain/Prune/Segment — the
    // SentencePiece rung above BPE, Kudo 2018; r18 verdict item 4). The
    // oracle unrolls the ENTIRE training trajectory — seed-vocab
    // selection (all substrings ≤ 4 chars, coverage-floor singles + the
    // top-48 multis by (cnt DESC, piece)), TWO hard-EM iterations each
    // replaying the Viterbi DP as a recursive carry-window CTE plus the
    // shortest-piece-tie-break reconstruction walk, the add-1 micro-LONG
    // re-estimates, the zero-count prune (lattice restriction, log-probs
    // unchanged — monotonicity is a theorem, UnigramSpec pins it), and
    // the final segmentation — so the hash gate proves the OPTIMIZATION
    // TRAJECTORY (the lrIterCtes stance), not just a final projection.
    // All dp sums are exact LONG arithmetic: "best" has no float
    // ambiguity on either engine; the only doubles are the micro-rounded
    // ln() re-estimates, the repo-wide probabilistic round stance.
    q("q_unigram_tok", unigramOracle(vocabSize = 48, iters = 2)) { (s, d) =>
      val model = modelRoundTrip(s, "unigram_tok", d,
        ops.Unigram.unigramTrain(Tables.documents(s, d), "text",
          vocabSize = 48, maxPieceLen = 4, iters = 2))
      ops.Unigram.unigramSegment(ops.Unigram.unigramPrune(model, 1L),
        Tables.documents(s, d), "text", "doc_id")
    },

    // SOFT-EM unigram training (r19 verdict item 4 — Kudo 2018's ACTUAL
    // E-step, the rung above q_unigram_tok's hard-EM): forward–backward
    // EXPECTED piece counts over every word's segmentation lattice
    // (UnigramExpect — scan-side codegen; α/β cells are micro-LONG
    // integers under the shared per-cell logsumexp rounding contract, so
    // the whole trajectory is reproducible cross-engine), then a
    // PRUNE-TO-TARGET vocabulary (singles + top-24 multis by expected
    // count, the likelihood-loss proxy), then the hard-Viterbi
    // segmentation pass. The oracle unrolls EVERYTHING: two recursive
    // carry-window CTEs per EM iteration (α left-to-right, β
    // right-to-left), per-hit posteriors, exact-integer count sums, the
    // prune, and the final Viterbi — per-doc (n_pieces, tok_logprob)
    // hash-compare.
    q("q_unigram_em",
      unigramSoftOracle(vocabSize = 48, iters = 2, keepMulti = 24)) { (s, d) =>
      val model = modelRoundTrip(s, "unigram_em", d,
        ops.Unigram.unigramTrainSoft(Tables.documents(s, d), "text",
          vocabSize = 48, maxPieceLen = 4, iters = 2))
      ops.Unigram.unigramSegment(ops.Unigram.unigramPruneToVocab(model, 24),
        Tables.documents(s, d), "text", "doc_id")
    },

    // The UNIGRAM tokenizer LIFECYCLE (the q_bpe_budget stance for the
    // second tokenizer family): train → prune → segment → BUDGET —
    // pretraining selection counts the pieces the TRAINED tokenizer will
    // actually produce, not whitespace words. Model artifact shared with
    // q_unigram_tok (memoized parquet — train once, consume twice); the
    // oracle replays the whole trajectory plus the cumulative cut.
    q("q_unigram_budget",
      unigramBudgetOracle(vocabSize = 48, iters = 2, budget = 50000L)) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = modelRoundTrip(s, "unigram_tok", d,
        ops.Unigram.unigramTrain(docs, "text",
          vocabSize = 48, maxPieceLen = 4, iters = 2))
      val seg = ops.Unigram.unigramSegment(ops.Unigram.unigramPrune(model, 1L),
        docs, "text", "doc_id")
      val proj = seg
        .join(docs.select(col("doc_id"),
          length(col("text")).cast("long").as("score")), Seq("doc_id"))
        .select(col("doc_id"), col("n_pieces").as("n_tok"), col("score"))
      ops.Selection.selectToTokenBudget(proj, "doc_id", "n_tok", "score",
        budget = 50000L, buckets = 64)
    },

    // The full tokenizer LIFECYCLE in one row: train (bpeMerges) →
    // encode (bpe_encode, the memoized merge artifact shared with
    // q_bpe_encode) → BUDGET — pretraining data selection counts the
    // tokens the TOKENIZER will actually produce, not whitespace words,
    // so the budget op consumes the encode kernel's counts directly.
    q("q_bpe_budget", bpeBudgetOracle(nMerges = 8, budget = 30000L)) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val merges = indexArtifact(s"bpe-merges:8:$d") {
        ops.TextAnalysis.bpeMerges(docs, "text", nMerges = 8)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
      }
      val proj = docs.select(col("doc_id"),
          size(bpe_encode(Dedup.tokens(col("text")), merges)).cast("long").as("n_tok"),
          length(col("text")).cast("long").as("score"))
        .filter(col("n_tok") > 0)
      ops.Selection.selectToTokenBudget(proj, "doc_id", "n_tok", "score",
        budget = 30000L, buckets = 64)
    },

    q("q_bpe_tokens",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS INT) AS bpe_tokens,
        |  CAST(len(regexp_extract_all(text, '\p{L}+')) AS INT) AS word_runs,
        |  CAST(len(regexp_extract_all(text, '\p{N}+')) AS INT) AS digit_runs
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin) { (s, d) =>
      // GPT-2-style pre-tokenizer shape: letter runs | digit runs | single
      // punctuation — the "BPE-ish" token estimate for budgeting/pricing
      Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          regexp_count(col("text"), lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"))
            .cast("int").as("bpe_tokens"),
          regexp_count(col("text"), lit("\\p{L}+")).cast("int").as("word_runs"),
          regexp_count(col("text"), lit("\\p{N}+")).cast("int").as("digit_runs"))
    },

    q("q_text_normalize",
      """SELECT doc_id,
        |  CAST(length(nfc_normalize(text)) AS INT) AS nfc_len,
        |  substring(strip_accents(lower(text)), 1, 40) AS folded_prefix,
        |  CAST(length(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS INT) AS masked_len
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          length(unicode_norm(col("text"), "NFC")).cast("int").as("nfc_len"),
          substring(strip_accents(lower(col("text"))), 1, 40).as("folded_prefix"),
          length(regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"))
            .cast("int").as("masked_len"))
    },

    q("q_dedup_exact",
      """WITH keyed AS (
        |  SELECT doc_id, md5(array_to_string(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ')) AS content_key
        |  FROM documents)
        |SELECT count(*) AS n_total,
        |  count(DISTINCT content_key) AS n_distinct,
        |  count(*) - count(DISTINCT content_key) AS n_dups
        |FROM keyed""".stripMargin) { (s, d) =>
      // Two-phase: partial-agg per 8-byte fnv64 key (no Expand doubling, no
      // md5 string shuffle), then a single global rollup. The oracle keeps
      // the md5 formulation — counts agree as long as neither hash collides.
      val perKey = Tables.documents(s, d)
        .select(Dedup.contentKey(col("text")).as("content_key"))
        .groupBy("content_key").agg(count(lit(1)).as("cnt"))
      perKey.agg(
        sum(col("cnt")).cast("long").as("n_total"),
        count(lit(1)).as("n_distinct"),
        (sum(col("cnt")) - count(lit(1))).cast("long").as("n_dups"))
    },

    // Incremental (base+delta) exact dedup — the continuous-ingest shape:
    // only the delta batch is tested, against base content and within
    // itself (min-id keeper). Base/delta split by doc_id % 3, so the
    // documents table's natural duplicates straddle the split and BOTH
    // rejection paths fire. The oracle re-derives survivors on normalized
    // STRING keys (anti-exists + per-key min) — Spark's 8-byte fnv64 keys
    // agree unless a 64-bit collision occurs, which this row exists to
    // catch (Dedup.scala:107).
    q("q_incremental_dedup",
      """WITH nk AS (
        |  SELECT doc_id, lang, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ') AS nk
        |  FROM documents),
        |base AS (SELECT nk FROM nk WHERE doc_id % 3 = 0),
        |delta AS (SELECT doc_id, lang, nk FROM nk WHERE doc_id % 3 <> 0),
        |surv AS (
        |  SELECT min(doc_id) AS doc_id FROM delta d
        |  WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.nk = d.nk)
        |  GROUP BY d.nk)
        |SELECT d.doc_id, d.lang FROM delta d JOIN surv USING (doc_id)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // base is not itself deduped here — harmless: the anti join tests
      // existence only (the operator's documented contract assumption is
      // about cost, not correctness)
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0),
          "text", "doc_id")
        .select(col("doc_id"), col("lang"))
    },

    // Incremental near-dup: the LSH half of the continuous-ingest
    // lifecycle — near-dup pairs TOUCHING the delta batch only, the base
    // never re-deduped against itself. Base = exact-deduped doc_id%3=0
    // slice (contract: clean); delta = exact-incremental survivors of the
    // rest (so no jaccard-1.0 pairs remain). The oracle computes exact
    // 3-shingle Jaccard over the final corpus restricted to pairs with ≥1
    // delta side — full-recall LSH at these settings (48 hashes / 24
    // bands, the q_minhash_neardup configuration), so the banded probe
    // must reproduce the exact pair set (Dedup.scala incrementalNearDups).
    q("q_incremental_neardup",
      """WITH nk AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ') AS nk
        |  FROM documents),
        |basek AS (SELECT nk, min(doc_id) AS doc_id FROM nk WHERE doc_id % 3 = 0 GROUP BY nk),
        |surv AS (
        |  SELECT min(doc_id) AS doc_id, d.nk FROM nk d
        |  WHERE doc_id % 3 <> 0
        |    AND NOT EXISTS (SELECT 1 FROM basek b WHERE b.nk = d.nk)
        |  GROUP BY d.nk),
        |corpus AS (
        |  SELECT doc_id, nk, 0 AS is_delta FROM basek
        |  UNION ALL SELECT doc_id, nk, 1 AS is_delta FROM surv),
        |tok AS (SELECT doc_id, is_delta, string_split(nk, ' ') AS toks FROM corpus),
        |sh AS (
        |  SELECT doc_id, is_delta, list_distinct(
        |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        |  FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near AS (
        |  SELECT id_a, id_b, shared / (sa.n + sb.n - shared) AS j,
        |    sa.is_delta + sb.is_delta AS nd
        |  FROM inter
        |  JOIN (SELECT doc_id, len(shingles) AS n, is_delta FROM sh) sa ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) AS n, is_delta FROM sh) sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, round(j, 6) AS jaccard
        |FROM near WHERE j >= 0.5 AND nd >= 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = Dedup.exactDedup(docs.filter(col("doc_id") % 3 === 0), "text", "doc_id")
      val delta = Dedup.incrementalDedup(base,
        docs.filter(col("doc_id") % 3 =!= 0), "text", "doc_id")
      Dedup.incrementalNearDups(base, delta, "text", "doc_id",
          threshold = 0.5, shingleN = 3, numHashes = 48, bands = 24)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // Composed continuous-ingest lifecycle (the reference's steady state,
    // `DataStreamJob.java:140-177`, re-expressed over the engine's own
    // operators): an already-clean BASE corpus absorbs a DELTA batch —
    // delta → incrementalDedup(base, delta) → per-slice bm25Stats rows
    // merged additively (mergeStats) → keyword probe against the merged
    // row. The oracle recomputes the final corpus and single-pass global
    // stats in SQL; additivity makes the merged row bit-identical (counts
    // and integer-valued double sums, all exact), so the probe must hash-
    // match. The streaming (multi-micro-batch) form of this exact fold is
    // StreamingSpec's "incremental ingest lifecycle" case.
    // Unified ingest-lifecycle ARTIFACT DASHBOARD — one registered row
    // answering from EVERY maintained additive artifact at once, each
    // answer proven ≡ its global recompute. The standing-pipeline story:
    // events arrive in 8 ingest slices (pmod(event_id, 8); slice 7 is
    // the delta batch folded in last), documents in 3 snapshots
    // (doc_id % 3; slice 0 is the delta). Maintained artifacts: HLL
    // distinct-user sketches per slice, KLL value-quantile sketches per
    // slice, Theta per-(week, slice) audience sketches, and the
    // vocab-count table per snapshot. The dashboard answers: corpus
    // distinct users (exact + HLL with fold≡rebuild and envelope
    // booleans), p50/p95 of value (EXACT via the sort-selection op, with
    // the folded KLL's rank checks fused into its counting pass),
    // week-over-week retained/churned/new for the LAST week pair from
    // the FOLDED theta sketches (exact-mode at gate scale, so the
    // numbers must equal DuckDB's true set counts), and base→delta
    // vocabulary drift as total-variation distance (exact integer
    // cross-multiplication, one final division). Every boolean is
    // Spark-proven (fold vs rebuild on the same artifacts); the oracle
    // recomputes every VALUE from scratch in SQL.
    q("q_artifact_dashboard",
      """WITH users AS (SELECT count(DISTINCT user_id) AS nu FROM events),
        |q AS (SELECT quantile_cont(value, [0.5, 0.95]) AS qs FROM events),
        |wu AS (
        |  SELECT DISTINCT
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
        |    user_id
        |  FROM events),
        |wk AS (SELECT DISTINCT week FROM wu),
        |p AS (SELECT week, lead(week) OVER (ORDER BY week) AS nw FROM wk),
        |lastp AS (SELECT week, nw FROM p WHERE nw IS NOT NULL
        |          ORDER BY week DESC LIMIT 1),
        |ret AS (
        |  SELECT count(*) AS n FROM lastp
        |  JOIN wu a ON a.week = lastp.week
        |  JOIN wu b ON b.week = lastp.nw AND b.user_id = a.user_id),
        |ccur AS (SELECT count(*) AS n FROM wu, lastp WHERE wu.week = lastp.week),
        |cnext AS (SELECT count(*) AS n FROM wu, lastp WHERE wu.week = lastp.nw),
        |tok AS (
        |  SELECT doc_id % 3 = 0 AS is_delta,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) AS w
        |  FROM documents),
        |vc AS (
        |  SELECT w, sum(CASE WHEN is_delta THEN 0 ELSE 1 END) AS c,
        |    sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS dc
        |  FROM tok GROUP BY w),
        |tot AS (SELECT sum(c) AS n1, sum(dc) AS n2 FROM vc),
        |tv AS (
        |  SELECT round(CAST(sum(abs(CAST(c AS HUGEINT) * n2
        |    - CAST(dc AS HUGEINT) * n1)) AS DOUBLE) / (2.0 * n1 * n2), 6) AS tv
        |  FROM vc, tot GROUP BY n1, n2)
        |SELECT CAST(users.nu AS BIGINT) AS n_users,
        |  true AS hll_fold_eq, true AS hll_est_ok,
        |  round(q.qs[1], 6) AS p50, round(q.qs[2], 6) AS p95,
        |  true AS kll_fold_eq, true AS kll_rank_ok,
        |  CAST(ret.n AS BIGINT) AS wk_retained,
        |  CAST(ccur.n - ret.n AS BIGINT) AS wk_churned,
        |  CAST(cnext.n - ret.n AS BIGINT) AS wk_new,
        |  true AS theta_fold_eq,
        |  tv.tv AS vocab_tv,
        |  true AS vocab_fold_eq
        |FROM users, q, ret, ccur, cnext, tv""".stripMargin) { (s, d) =>
      import graft.functions.ThetaExpressions._
      import graft.ops.CorpusStats
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // ~10 artifact builders consume the event stream and 4 consume the
      // document snapshots — materialize each input ONCE (the
      // q_quantile_sketch stance) so every pass scans memory, not parquet
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .withColumn("_slice", pmod(col("event_id"), lit(8)))
        .localCheckpoint(true)
      val base = ev.filter(col("_slice") =!= 7)
      val delta = ev.filter(col("_slice") === 7)

      // The dashboard is ~16 small jobs; run the four INDEPENDENT
      // artifact groups as concurrent Spark jobs (threads submitting to
      // one scheduler — the standard concurrent-jobs pattern a real
      // dashboard service uses), so wall-clock is the slowest group, not
      // the sum of every job's scheduling floor. r21 (§2.6 again, the
      // r20-verdict scaling-0.64 item): INDEPENDENT actions INSIDE each
      // group also run as sub-futures — the group wall is its longest
      // single action, not its action chain — and every body is
      // blocking{}-marked so the shared pool backfills instead of
      // starving (r20 ADVICE).
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      import ops.Par.{blockingFuture => bf}

      // --- HLL distinct users: base slices + delta slice appended vs
      // rebuild — three independent one-action scans, concurrent
      val fHll = bf {
        val fEst = bf {
          val hllFolded = CorpusStats.distinctSketches(base, "user_id", "_slice")
            .unionByName(CorpusStats.distinctSketches(delta, "user_id", "_slice"))
          CorpusStats.distinctFromSketches(hllFolded).head.getLong(0)
        }
        val fRebuild = bf { CorpusStats.distinctFromSketches(
          CorpusStats.distinctSketches(ev, "user_id", "_slice")).head.getLong(0) }
        val fUsers = bf { ev.agg(count_distinct(col("user_id"))).head.getLong(0) }
        val hllEst = Await.result(fEst, Duration.Inf)
        val hllRebuild = Await.result(fRebuild, Duration.Inf)
        val nUsers = Await.result(fUsers, Duration.Inf)
        (nUsers, hllEst == hllRebuild,
          math.abs(hllEst - nUsers).toDouble / nUsers <= 0.05)
      }

      // --- KLL p50/p95: folded slices vs rebuild; rank checks fused into
      // the exact sort-selection pass
      val ps = Seq(0.5, 0.95)
      val fKll = bf {
        // the folded slice artifact is 8 rows — checkpoint so its two
        // consumers (fold check + union quantiles) don't re-scan the corpus
        val kllSlicesFolded = CorpusStats.quantileSketches(base, "value", "_slice")
          .unionByName(CorpusStats.quantileSketches(delta, "value", "_slice"))
          .localCheckpoint(true)
        // fold ≡ rebuild at the ARTIFACT grain, stated as what a KLL sketch
        // actually guarantees: per slice the absorbed count n is EXACT
        // (must match the rebuild's bit-for-bit), and each build's
        // quantiles agree within the rank envelope — the sketch's internal
        // compaction is merge-order-sensitive, so value-level equality
        // between two independent builds is not the contract (the
        // distinctSketches scaladoc's HIP/composite caveat, KLL edition)
        // fold check and the quantiles→exact chain are independent once
        // the folded artifact is pinned — concurrent sub-futures
        val fFoldEq = bf {
          import graft.functions.KllExpressions._
          val a = kllSlicesFolded.select(col("_slice"), col("sketch").as("_ska"))
          val b = CorpusStats.quantileSketches(ev, "value", "_slice")
            .select(col("_slice"), col("sketch").as("_skb"))
          a.join(b, Seq("_slice"))
            .agg(bool_and(kllCount(col("_ska")) === kllCount(col("_skb")) &&
              abs(kllRank(col("_skb"), kllQuantile(col("_ska"), lit(0.5))) - 0.5) <= 0.05 &&
              abs(kllRank(col("_skb"), kllQuantile(col("_ska"), lit(0.95))) - 0.95) <= 0.05))
            .head.getBoolean(0)
        }
        val kllFolded = CorpusStats.quantilesFromSketches(kllSlicesFolded, ps)
          .orderBy("p").collect().map(r => (r.getDouble(1), r.getLong(2)))
        val (exactQ, leCounts) = CorpusStats.exactQuantiles(
          ev, "value", ps, countAtOrBelow = kllFolded.map(_._1).toSeq)
        val kllRankOk = ps.indices.forall { i =>
          math.abs(leCounts(i).toDouble / kllFolded(i)._2 - ps(i)) <= 0.033 }
        (Await.result(fFoldEq, Duration.Inf), exactQ, kllRankOk)
      }

      // --- Theta weekly audience: per-(week, slice) sketches fold to
      // per-week; exact-mode ⇒ folded numbers equal true set counts
      val fTheta = bf {
        val wkEv = ev.select(to_date(date_trunc("week", col("ts"))).as("week"),
          col("user_id"), col("_slice"))
        val wkFolded = wkEv.groupBy(col("week"), col("_slice"))
          .agg(thetaSketchAgg(col("user_id")).as("_s0"))
          .groupBy(col("week")).agg(thetaUnionAgg(col("_s0")).as("_sk"))
          .localCheckpoint(true)   // weeks rows; two consumers below
        // the fold check and the last-pair retention read are independent
        // consumers of the pinned artifact — concurrent sub-futures
        val fEq = bf {
          val wkSingle = wkEv.groupBy(col("week"))
            .agg(thetaSketchAgg(col("user_id")).as("_sk2"))
          wkFolded.join(wkSingle, Seq("week"))
            .agg(bool_and(round(thetaEstimate(col("_sk"))) ===
              round(thetaEstimate(col("_sk2"))))).head.getBoolean(0)
        }
        val pr = wkFolded
          .withColumn("_nsk", lead(col("_sk"), 1).over(Window.orderBy(col("week"))))
          .filter(col("_nsk").isNotNull)
          .orderBy(col("week").desc).limit(1)
          .select(round(thetaEstimate(col("_sk"))).cast("long"),
            round(thetaEstimate(col("_nsk"))).cast("long"),
            round(thetaEstimate(thetaIntersect(col("_sk"), col("_nsk")))).cast("long"))
          .head
        (Await.result(fEq, Duration.Inf), pr.getLong(0), pr.getLong(1), pr.getLong(2))
      }

      // --- Vocab drift: per-snapshot count tables, delta fold ≡ rebuild
      // (row-identical), base→delta drift as exact-integer TV distance
      val fVocab = bf {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
          .localCheckpoint(true)
        val snaps = (0 to 2).map(i =>
          CorpusStats.vocabCounts(docs.filter(col("doc_id") % 3 === i), "text"))
        val vocabFolded = CorpusStats.mergeVocabCounts(
          snaps.reduce(_ unionByName _)).localCheckpoint(true)
        val vocabRebuild = CorpusStats.vocabCounts(docs, "text")
        // row-identity via ONE full-outer join (null-safe count compare ≡
        // exceptAll both ways on a keyed count table, at a third the jobs);
        // independent of the TV-distance chain below — sub-future
        val fEq = bf { vocabFolded.select(col("word"), col("cnt").as("_ca"))
          .join(vocabRebuild.select(col("word"), col("cnt").as("_cb")),
            Seq("word"), "full_outer")
          .agg(bool_and(col("_ca") <=> col("_cb"))).head.getBoolean(0) }
        val baseCounts = CorpusStats.mergeVocabCounts(snaps(1).unionByName(snaps(2)))
        val joint = baseCounts.select(col("word"), col("cnt").as("_c"))
          .join(snaps(0).select(col("word"), col("cnt").as("_dc")),
            Seq("word"), "full_outer")
          .select(coalesce(col("_c"), lit(0L)).as("_c"),
            coalesce(col("_dc"), lit(0L)).as("_dc"))
          .localCheckpoint(true)
        val trow = joint.agg(sum(col("_c")), sum(col("_dc"))).head
        val (n1, n2) = (trow.getLong(0), trow.getLong(1))
        val dec38 = DecimalType(38, 0)
        val tvNum = joint.agg(sum(abs(col("_c").cast(dec38) * lit(n2)
          - col("_dc").cast(dec38) * lit(n1)))).head.getDecimal(0)
        (Await.result(fEq, Duration.Inf),
          r6(tvNum.doubleValue() / (2.0 * n1 * n2)))
      }

      val (nUsers, hllFoldEq, hllEstOk) = Await.result(fHll, Duration.Inf)
      val (kllFoldEq, exactQ, kllRankOk) = Await.result(fKll, Duration.Inf)
      val (thetaFoldEq, wCur, wNext, wRet) = Await.result(fTheta, Duration.Inf)
      val (vocabFoldEq, vocabTv) = Await.result(fVocab, Duration.Inf)

      s.createDataFrame(Seq((nUsers, hllFoldEq, hllEstOk,
          r6(exactQ(0)), r6(exactQ(1)), kllFoldEq, kllRankOk,
          wRet, wCur - wRet, wNext - wRet, thetaFoldEq, vocabTv, vocabFoldEq)))
        .toDF("n_users", "hll_fold_eq", "hll_est_ok", "p50", "p95",
          "kll_fold_eq", "kll_rank_ok", "wk_retained", "wk_churned",
          "wk_new", "theta_fold_eq", "vocab_tv", "vocab_fold_eq")
    },

    q("q_ingest_bm25",
      """WITH nk AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ') AS nk
        |  FROM documents),
        |basek AS (SELECT nk, min(doc_id) AS doc_id FROM nk WHERE doc_id % 3 = 0 GROUP BY nk),
        |surv AS (
        |  SELECT min(doc_id) AS doc_id FROM nk d
        |  WHERE doc_id % 3 <> 0
        |    AND NOT EXISTS (SELECT 1 FROM basek b WHERE b.nk = d.nk)
        |  GROUP BY d.nk),
        |corpus AS (SELECT doc_id FROM basek UNION ALL SELECT doc_id FROM surv),
        |tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents JOIN corpus USING (doc_id) WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        |  CAST(sum(CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |  CAST(sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |  CAST(sum(CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(tk, x -> x = 'dup')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'merge')) AS DOUBLE) AS tf2,
        |    (CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END) AS m,
        |    dl, n, sumdl, df0, df1, df2
        |  FROM d, st)
        |SELECT doc_id,
        |  round(
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * (1.2 + 1.0))
        |      / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
        |      / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
        |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
        |      / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))), 6) AS bm25,
        |  CAST(m AS INT) AS n_matched
        |FROM sc WHERE m > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val terms = Seq("dup", "spark", "merge")
      // r21 §2.4: `base` has THREE consumers (the incremental-dedup
      // anti-join, its own bm25Stats slice, and the final union scoring
      // pass) and `survivors` two — unpinned, exactDedup/incrementalDedup
      // replayed per consumer (the round's stale-adjudication flag on
      // this query). Lazy checkpoints pin each once.
      val base = Dedup.exactDedup(docs.filter(col("doc_id") % 3 === 0),
        "text", "doc_id").localCheckpoint(false)
      val delta = docs.filter(col("doc_id") % 3 =!= 0)
      val survivors = Dedup.incrementalDedup(base, delta, "text", "doc_id")
        .localCheckpoint(false)
      val merged = Retrieval.mergeStats(
        Retrieval.bm25Stats(base, "text", "doc_id", terms)
          .unionAll(Retrieval.bm25Stats(survivors, "text", "doc_id", terms)),
        terms.length)
      Retrieval.bm25TopKWithStats(
        base.unionAll(survivors).select(col("doc_id"), col("text")),
        "text", "doc_id", merged, terms, k = 20)
    },

    q("q_ngram_jaccard",
      """WITH tok AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS toks
        |  FROM documents WHERE doc_id < 100),
        |ex AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM tok)
        |SELECT id_a, id_b,
        |  round(shared / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE shared / (sa.n + sb.n - shared) >= 0.8""".stripMargin) { (s, d) =>
      Dedup.jaccardPairs(
          Tables.documents(s, d).filter(col("doc_id") < 100), "text", "doc_id",
          shingleN = 1, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // Containment / overlap-coefficient pairs (Dedup.containmentPairs) —
    // the ASYMMETRIC dual of Jaccard dedup: a 15-token snippet quoted
    // inside its source page has Jaccard ~0.1 but containment 1.0. The
    // corpus plants real subsets (each doc < 100 gets a first-15-token
    // snippet at doc_id+1000); the oracle restates corpus construction
    // AND the brute all-pairs overlap coefficient.
    q("q_containment",
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 1000 AS doc_id,
        |    array_to_string(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')[1:15], ' ') AS text
        |  FROM documents WHERE doc_id < 100),
        |tok AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS toks
        |  FROM base),
        |ex AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM tok)
        |SELECT id_a, id_b,
        |  round(shared / least(sa.n, sb.n), 6) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE shared / least(sa.n, sb.n) >= 0.9""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      val snip = base.select((col("doc_id") + 1000L).as("doc_id"),
        array_join(slice(ops.Dedup.tokens(col("text")), 1, 15), " ").as("text"))
      ops.Dedup.containmentPairs(base.unionByName(snip), "text", "doc_id",
          shingleN = 1, threshold = 0.9)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
    },

    // Prefix-filtered exact Jaccard join (Dedup.prefixJaccardPairs, the
    // All-Pairs/PPJoin family): same exact-pairs semantics as
    // q_ngram_jaccard — the oracle is the very same brute token
    // self-join — but over the FULL documents table, because the prefix
    // index only holds each doc's ~(1−t)·n rarest shingles, so the
    // stop-shingle posting lists that force q_ngram_jaccard's doc_id<100
    // cut never enter the candidate join. Full recall, no df cap.
    q("q_prefix_jaccard",
      """WITH tok AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS toks
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM tok)
        |SELECT id_a, id_b,
        |  round(shared / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE shared / (sa.n + sb.n - shared) >= 0.9""".stripMargin) { (s, d) =>
      Dedup.prefixJaccardPairs(
          Tables.documents(s, d), "text", "doc_id",
          shingleN = 1, threshold = 0.9)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // Edit-distance similarity self-join (Dedup.editDistancePairs, the
    // PassJoin partition filter): all part-name pairs within Levenshtein
    // distance 2, with per-name row counts. The oracle is the brute
    // definition — levenshtein over the full distinct×distinct square —
    // which the pigeonhole candidate generation must reproduce exactly
    // (any missing pair is a recall bug in the segment enumeration).
    q("q_edit_join",
      """WITH n AS (SELECT p_name AS name, count(*) AS cnt FROM part GROUP BY 1)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist,
        |  a.cnt AS n_a, b.cnt AS n_b
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin) { (s, d) =>
      Dedup.editDistancePairs(Tables.part(s, d), "p_name", tau = 2)
    },

    // Substring-level span dedup (ExactSubstr, Lee et al. 2021): maximal
    // cross-document verbatim runs of ≥ 12 tokens, found via a positional
    // 8-shingle inverted index + diagonal run-coalescing. The oracle
    // recomputes the identical pipeline on shingle STRINGS (no hashes):
    // Spark's 8-byte fnv64 postings agree unless a 64-bit collision
    // co-buckets different shingles (~2⁻⁶⁴·n² — and such a collision is a
    // genuine recall bug this oracle exists to catch).
    q("q_substring_dedup",
      """WITH tk0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |tk AS (SELECT doc_id, tk FROM tk0 WHERE len(tk) >= 8),
        |sh AS (
        |  SELECT doc_id, s, array_to_string(list_slice(tk, s+1, s+8), ' ') AS g
        |  FROM tk, unnest(range(0, len(tk)-8+1)) u(s)),
        |hc AS (SELECT g, count(*) AS n FROM sh GROUP BY g),
        |shf AS (
        |  SELECT sh.doc_id, sh.s, sh.g FROM sh JOIN hc USING(g)
        |  WHERE hc.n BETWEEN 2 AND 256),
        |m AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, a.s AS sa, b.s AS sb
        |  FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT a, b, sa, sb, sa - sb AS diag,
        |    sa - row_number() OVER (PARTITION BY a, b, sa - sb ORDER BY sa) AS grp
        |  FROM m),
        |sp AS (
        |  SELECT a AS doc_a, b AS doc_b, min(sa) AS a_start, min(sb) AS b_start,
        |    count(*) + 7 AS span_tokens
        |  FROM r GROUP BY a, b, diag, grp)
        |SELECT doc_a, doc_b, CAST(a_start AS INT) AS a_start,
        |  CAST(b_start AS INT) AS b_start, CAST(span_tokens AS INT) AS span_tokens
        |FROM sp WHERE span_tokens >= 12""".stripMargin) { (s, d) =>
      Dedup.substringSpans(Tables.documents(s, d), "text", "doc_id",
        k = 8, minSpanTokens = 12, maxPostings = 256)
    },

    // The curation ACTION for the spans: cut the doc_b copy of every
    // duplicated span (keep-the-earliest convention), rebuild the
    // surviving text. The oracle replays span detection on shingle
    // strings, unions covered positions, and rebuilds each affected doc
    // with a positional list comprehension — the full detect→cut pipeline
    // verified end-to-end, including overlapping-span position unions.
    q("q_cut_spans",
      """WITH tk0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |tk AS (SELECT doc_id, tk FROM tk0 WHERE len(tk) >= 8),
        |sh AS (
        |  SELECT doc_id, s, array_to_string(list_slice(tk, s+1, s+8), ' ') AS g
        |  FROM tk, unnest(range(0, len(tk)-8+1)) u(s)),
        |hc AS (SELECT g, count(*) AS n FROM sh GROUP BY g),
        |shf AS (
        |  SELECT sh.doc_id, sh.s, sh.g FROM sh JOIN hc USING(g)
        |  WHERE hc.n BETWEEN 2 AND 256),
        |m AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, a.s AS sa, b.s AS sb
        |  FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT a, b, sa, sb, sa - sb AS diag,
        |    sa - row_number() OVER (PARTITION BY a, b, sa - sb ORDER BY sa) AS grp
        |  FROM m),
        |sp AS (
        |  SELECT b AS doc_b, min(sb) AS b_start, count(*) + 7 AS span_tokens
        |  FROM r GROUP BY a, b, diag, grp),
        |cpos AS (
        |  SELECT doc_b AS doc_id, unnest(range(b_start, b_start + span_tokens)) AS p
        |  FROM sp WHERE span_tokens >= 12),
        |cdis AS (SELECT DISTINCT doc_id, p FROM cpos),
        |cv AS (
        |  SELECT doc_id, count(*) AS n_removed, list(p ORDER BY p) AS cut
        |  FROM cdis GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.tk) AS INT) AS n_before,
        |  CAST(cv.n_removed AS INT) AS n_removed,
        |  coalesce(array_to_string(
        |    [t.tk[i+1] for i in range(0, len(t.tk)) if NOT list_contains(cv.cut, i)],
        |    ' '), '') AS text_clean
        |FROM tk t JOIN cv ON cv.doc_id = t.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.cutSpans(docs, "text", "doc_id",
        Dedup.substringSpans(docs, "text", "doc_id",
          k = 8, minSpanTokens = 12, maxPostings = 256))
    },

    q("q_dedup_clusters",
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS toks
        |  FROM documents WHERE doc_id < 100),
        |ex AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM tok),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE shared / (sa.n + sb.n - shared) >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
        |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin) { (s, d) =>
      // same deterministic pair producer as q_ngram_jaccard, then the
      // min-label-propagation connected components — the oracle recomputes
      // the closure with a recursive CTE
      Dedup.clusterLabels(Dedup.jaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 100), "text", "doc_id",
        shingleN = 1, threshold = 0.8))
    },

    // Cluster-safe split: near-dup components (the q_dedup_clusters
    // closure) hash by their representative, so paraphrase pairs never
    // straddle train/test. The oracle composes the recursive-CTE closure
    // with the q_split_by_hash FNV fold + sign shim on the rep's decimal
    // string; singletons hash by their own id.
    q("q_split_safe",
      s"""WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS toks
        |  FROM documents WHERE doc_id < 100),
        |ex AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM tok),
        |prs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE shared / (sa.n + sb.n - shared) >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |base AS (
        |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_rep
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
        |  LEFT JOIN cl ON cl.id = d.doc_id),
        |${fnvFoldCtes("rfold", "base", "doc_id", "CAST(cluster_rep AS VARCHAR)")},
        |bk AS (
        |  SELECT k AS doc_id,
        |    ((CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
        |            THEN ch - 18446744073709551616::HUGEINT ELSE ch END AS BIGINT)
        |      % 10) + 10) % 10 AS b
        |  FROM rfold)
        |SELECT base.doc_id, base.cluster_rep,
        |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
        |FROM base JOIN bk USING (doc_id)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
      val pairs = Dedup.jaccardPairs(docs, "text", "doc_id",
        shingleN = 1, threshold = 0.8)
      Dedup.splitByCluster(docs.select("doc_id"), "doc_id", pairs,
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .select("doc_id", "cluster_rep", "split")
    },

    // The SCALE-SAFE variant is the registered query: banded hyperplane LSH
    // over ids-only buckets, exact cosine verification on surviving pairs —
    // no all-pairs product anywhere in the plan. Planted positives (the
    // q_image_neardup family stance, r15 verdict #1): every 25th vector
    // gets a near-identical twin past max(vec_id) whose element 0 is scaled
    // ×1.02 — unit-norm corpus, so twin cosine ≥ 0.9998 by construction
    // while the real corpus's pair ceiling is ~0.60 and twin-vs-other
    // inherits it (±1e-4). Both margins are wide, so the pair set is pure
    // id arithmetic the SQL side restates, while Spark must earn each pair
    // through the live banding + exact-verify path (twins are NOT exact
    // dups, so the xxhash64 collapse cannot shortcut them; miss probability
    // per planted pair ≤ (1−p^12)^16 with p = 1 − arccos(.9998)/π ≈ 0.994 →
    // ~1e-20, and the hyperplanes are seed-deterministic anyway). The O(n²)
    // exact variant stays as the cross-check in DedupKnnSpec (LSH ≡ exact
    // on both test SFs). Twin ids sit at vec_id + (max(vec_id)+1), computed
    // on BOTH sides, so no SF can collide a twin id with a real vec_id
    // (r16 ADVICE: a fixed 1e6 offset silently assumed max vec_id < 1e6).
    q("q_embedding_neardup",
      """SELECT vec_id AS id_a,
        |  vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS id_b
        |FROM embeddings WHERE vec_id % 25 = 0""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val off = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
      val twins = emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + off).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x * lit(1.02f)).otherwise(x)).as("embedding"))
      Dedup.embeddingNearDups(emb.unionByName(twins), "embedding", "vec_id",
          dim = 64, threshold = 0.9, bands = 16, bitsPerBand = 12)
        .select(col("id_a"), col("id_b"))
    },

    // SemDeDup (Abbas et al. 2023): coarse-cluster embeddings, prune pairs
    // only WITHIN a cluster — the cluster id is the partition key, so the
    // quadratic pair work becomes per-cell. The oracle-able instance pins
    // the k=8 centroids to the first 8 vectors (a deterministic seed set
    // both engines can reproduce); at scale the same operator takes
    // Knn.trainCentroids' sampled k-means. Assignment argmax is on
    // round(cosine, 6) with lowest-cid ties, so cell membership — and
    // therefore the emitted pair set — is hash-exact across engines. The
    // low threshold (0.35) is this synthetic corpus's pair ceiling
    // (max pairwise cosine ≈ 0.51); production SemDeDup runs ≥ 0.95.
    q("q_semdedup",
      """WITH cent AS (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        |  FROM embeddings WHERE vec_id < 8),
        |asgn AS (
        |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
        |    (SELECT c.cid FROM cent c
        |     ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6) DESC,
        |       c.cid
        |     LIMIT 1) AS cell
        |  FROM embeddings e)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM asgn a, asgn b
        |WHERE a.cell = b.cell AND a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.35""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val seeds = indexArtifact(s"semdedup-seeds:$d") {
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("cid"), col("embedding"))
          .collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1)))
          .sortBy(_._1).toIndexedSeq
      }
      // subBlocks stays 1 here: at this size Spark auto-broadcasts the
      // probe side, so the per-cell join is never parallelism-capped and
      // sub-block replication only adds overhead (measured: 0.69 s at S=8
      // vs 0.47 s at S=1). The knob exists for corpus-scale power-law
      // cells, where one mega-cell genuinely serializes (Dedup scaladoc).
      Dedup.semanticNearDupsSeeded(emb, "embedding", "vec_id",
        seeds, threshold = 0.35)
    },

    // SemDeDup over CORPUS-TRAINED cells — the production wiring the
    // seeded variant above stands in for: the distributed Lloyd trainer
    // (Knn.kmeansFit, exact integer trajectory) produces the quantizer,
    // Knn.kmeansAssign routes every vector to its cell with the trainer's
    // own metric and tie rules (one scan-side projection, centroids a k×d
    // literal), and the pair stage runs within cells only. The oracle is
    // EXACT, not a contract: DuckDB replays the full 2-iteration training
    // trajectory plus assignment, so the pair sets must match
    // row-for-row. Threshold 0.3: this corpus's pair-cosine ceiling is
    // ~0.51 and 16 trained cells slice it finer than the 8 seeded ones,
    // so the gate keeps a non-trivial pair set at every SF.
    q("q_kmeans_semdedup",
      kmeansSemdedupOracle(k = 16, iters = 2, threshold = "0.3")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = indexArtifact(s"kmeans-semdedup-centroids:$d") {
        Knn.kmeansFit(emb, "embedding", "vec_id", k = 16, iterations = 2)
          .orderBy("cell").collect().map(_.getSeq[Long](2)).toSeq
      }
      Dedup.semanticNearDupsAssigned(
        Knn.kmeansAssign(emb, "embedding", cents),
        "embedding", "vec_id", "_cell", threshold = 0.3)
    },

    // Int8 scalar quantization + quantized top-k probe: per-vector max-abs
    // symmetric quantization (q = round-half-away(x·127/amax)), then an
    // EXACT integer dot product ranks the corpus — small-integer arithmetic
    // is immune to accumulation-order drift, so quantized scores (unlike
    // float cosines) hash-compare bit-for-bit with no rounding shim. The
    // 100 TB shape: codes are 4× smaller than the float column and the
    // probe scans them with integer multiply-adds (ops.Quantize doc).
    q("q_int8_knn",
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(round(x * (127.0 / list_max(
        |             list_transform(embedding::DOUBLE[], y -> abs(y))))) AS INT)) AS qv
        |  FROM embeddings),
        |probe AS (SELECT qv AS pv FROM q WHERE vec_id = 0)
        |SELECT vec_id, CAST(list_inner_product(qv, pv) AS BIGINT) AS qdot
        |FROM q, probe
        |ORDER BY qdot DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ops.Quantize.topKInt8(emb, "embedding", "vec_id",
        emb.filter(col("vec_id") === 0), k = 10)
    },

    // Binary (sign-bit) quantized retrieval (Quantize.signPack /
    // hammingTopK): 64-dim floats pack into two 32-bit LONG words (32×
    // compression) and top-10 per probe is XOR+popcount through the
    // bounded TopKByScore partial aggregation — map-side k-bounded
    // buffers, never a corpus window sort. Exact-integer distances, so
    // the oracle replays the identical packing and bit arithmetic.
    q("q_hamming_knn",
      """WITH b AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(32),
        |      i -> CASE WHEN embedding[i+1] >= 0 THEN (1::BIGINT << i)
        |           ELSE 0::BIGINT END)) AS lo,
        |    list_sum(list_transform(range(32),
        |      i -> CASE WHEN embedding[i+33] >= 0 THEN (1::BIGINT << i)
        |           ELSE 0::BIGINT END)) AS hi
        |  FROM embeddings),
        |p AS (SELECT vec_id AS q_id, lo AS plo, hi AS phi FROM b
        |      WHERE vec_id % 997 = 5),
        |d AS (
        |  SELECT q_id, vec_id,
        |    bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS hamming
        |  FROM b, p),
        |r AS (
        |  SELECT q_id, vec_id, hamming,
        |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS rank
        |  FROM d)
        |SELECT q_id, vec_id, CAST(hamming AS INT) AS hamming,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ops.Quantize.hammingTopK(emb, "embedding", "vec_id",
        emb.filter(pmod(col("vec_id"), lit(997)) === 5), "vec_id",
        k = 10, dim = 64)
    },

    q("q_lang_quality",
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','zu'], t))) AS de_hits,
        |    len(list_filter(toks, t -> list_contains(['the','a','and','of','to'], t))) AS en_hits,
        |    len(list_filter(toks, t -> list_contains(['el','la','los','y','de'], t))) AS es_hits,
        |    len(list_filter(toks, t -> list_contains(['le','la','et','les','de'], t))) AS fr_hits
        |  FROM scored)
        |SELECT doc_id, lang,
        |  CAST(de_hits AS INT) AS de_hits, CAST(en_hits AS INT) AS en_hits,
        |  CAST(es_hits AS INT) AS es_hits, CAST(fr_hits AS INT) AS fr_hits
        |FROM hits""".stripMargin) { (s, d) =>
      // tokenize ONCE into a real column: lambda exprs are exempt from
      // subexpression elimination, so inlining would re-split 4× per row
      def hits(words: Seq[String]): Column =
        TextAnalysis.markerHitsFromTokens(col("_toks"), words)
      Tables.documents(s, d)
        .withColumn("_toks", Dedup.tokens(col("text")))
        .select(
          col("doc_id"), col("lang"),
          hits(TextAnalysis.stopwords("de")).as("de_hits"),
          hits(TextAnalysis.stopwords("en")).as("en_hits"),
          hits(TextAnalysis.stopwords("es")).as("es_hits"),
          hits(TextAnalysis.stopwords("fr")).as("fr_hits"))
    },

    q("q_lang_pred",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(tk, t -> list_contains(['der','die','das','und','zu'], t))) AS de_h,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to'], t))) AS en_h,
        |    len(list_filter(tk, t -> list_contains(['el','la','los','y','de'], t))) AS es_h,
        |    len(list_filter(tk, t -> list_contains(['le','la','et','les','de'], t))) AS fr_h
        |  FROM toks)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(de_h, en_h, es_h, fr_h) = 0 THEN 'und'
        |       WHEN fr_h = greatest(de_h, en_h, es_h, fr_h) THEN 'fr'
        |       WHEN es_h = greatest(de_h, en_h, es_h, fr_h) THEN 'es'
        |       WHEN en_h = greatest(de_h, en_h, es_h, fr_h) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM hits""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("_toks", Dedup.tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langIdFromTokens(col("_toks")).as("lang_pred"))
    },

    // Trained language ID (TextAnalysis.langidNb): multinomial Naive Bayes
    // over fnv64-hashed character trigrams (fastText-recipe arithmetic,
    // Joulin et al. 2017) — train on the corpus's own labels in ONE
    // aggregate pass into a dense 5×1024 broadcast table, score scan-side
    // with micro-LONG log sums, argmax ties to the smallest lang. The
    // oracle replays the full trajectory EXACTLY: trigram extraction,
    // the recursive FNV fold over distinct trigrams, bucket counts,
    // add-1 smoothing, priors, and the same fixed tie-break. (On this
    // synthetic corpus labels are independent of text, so predictions
    // measure replay fidelity; the accuracy-beats-heuristic claim is
    // pinned on a real multilingual fixture in TextAnalysisSpec.)
    q("q_langid_nb",
      s"""WITH RECURSIVE $langidNbCtes
        |SELECT doc_id, lang AS lang_pred,
        |  round(CAST(tot AS DOUBLE) / 1000000.0, 6) AS nb_logp
        |FROM pick WHERE rn = 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // both sides score the SAME doc set by construction: the oracle's
      // td CTE filters lang IS NOT NULL on train AND score streams, so a
      // future text-non-null/lang-null fixture row must not enter toScore
      TextAnalysis.langidNb(docs, docs.filter(col("lang").isNotNull),
        "text", "lang", "doc_id", buckets = 1024)
    },

    // The fully-LAZY langid sibling (TextAnalysis.langidNbLazy, r17
    // verdict item 6): the qualityNb broadcast-model formulation
    // generalized to N classes — no driver LUT, no collect, composable
    // before the labeled data exists. Same oracle as q_langid_nb
    // CHARACTER-IDENTICAL (the factored langidNbCtes), so the hash gate
    // proves lazy ≡ eager on real data, not just the unit fixture.
    // r18 verdict item 3: the model now ROUND-TRIPS PARQUET inside the
    // query (nbLangTrain → write → read → nbLangScore), so the same hash
    // gate also proves the persisted artifact scores identically — the
    // train-once / score-many pipeline shape, not a per-run retrain.
    q("q_langid_nb_lazy",
      s"""WITH RECURSIVE $langidNbCtes
        |SELECT doc_id, lang AS lang_pred,
        |  round(CAST(tot AS DOUBLE) / 1000000.0, 6) AS nb_logp
        |FROM pick WHERE rn = 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = modelRoundTrip(s, "langid_nb", d,
        TextAnalysis.nbLangTrain(docs, "text", "lang", buckets = 1024))
      TextAnalysis.nbLangScore(model, docs.filter(col("lang").isNotNull),
        "text", "doc_id", buckets = 1024)
    },

    // Trained quality classifier (TextAnalysis.qualityNb): binary NB over
    // fnv64-hashed word unigram+bigram features — the langidNb machinery
    // one label-space down, fully lazy (2×buckets model broadcasts, no
    // driver LUT). Labels from fixture arithmetic (doc_id % 2 — on this
    // synthetic corpus labels are independent of text, so the oracle
    // measures replay fidelity: feature extraction, the recursive FNV
    // fold, add-1 smoothing, priors, and the integer log-odds; the
    // separates-real-quality claim is pinned on a planted fixture in
    // TextAnalysisSpec). The oracle replays unigram+bigram features
    // through the same fold and both classes' micro-LONG sums.
    q("q_quality_nb",
      s"""WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |lab AS (SELECT doc_id, doc_id % 2 = 0 AS y, tk
        |        FROM tk WHERE len(tk) >= 1),
        |fu AS (SELECT doc_id, y, unnest(tk) AS g FROM lab),
        |fb AS (
        |  SELECT doc_id, y, tk[s+1] || ' ' || tk[s+2] AS g
        |  FROM (SELECT * FROM lab WHERE len(tk) >= 2),
        |    unnest(range(0, len(tk)-1)) u(s)),
        |ft AS (SELECT * FROM fu UNION ALL SELECT * FROM fb),
        |gv AS (SELECT DISTINCT g FROM ft),
        |${fnvFoldCtes("gf", "gv", "g", "g")},
        |gmap AS (SELECT k AS g, CAST(ch % 1024 AS BIGINT) AS b FROM gf),
        |f AS (SELECT doc_id, y, b FROM ft JOIN gmap USING (g)),
        |cnt AS (SELECT y, b, count(*) AS c FROM f GROUP BY 1, 2),
        |ctot AS (SELECT y, count(*) AS ct FROM f GROUP BY 1),
        |bs AS (SELECT CAST(unnest(range(0, 1024)) AS BIGINT) AS b),
        |dense AS (
        |  SELECT ct.y, bs.b,
        |    CAST(round(ln(CAST(coalesce(cnt.c, 0) + 1 AS DOUBLE)
        |      / CAST(ct.ct + 1024 AS DOUBLE)) * 1000000.0) AS BIGINT) AS lmic
        |  FROM ctot ct CROSS JOIN bs
        |  LEFT JOIN cnt ON cnt.y = ct.y AND cnt.b = bs.b),
        |pr AS (
        |  SELECT y, CAST(round(ln(CAST(count(*) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM lab) AS DOUBLE)) * 1000000.0) AS BIGINT)
        |    AS pmic
        |  FROM lab GROUP BY y),
        |s1 AS (
        |  SELECT f.doc_id,
        |    sum(CASE WHEN d.y THEN d.lmic ELSE 0 END) AS sp,
        |    sum(CASE WHEN d.y THEN 0 ELSE d.lmic END) AS sn
        |  FROM (SELECT doc_id, b FROM f) f JOIN dense d USING (b)
        |  GROUP BY 1),
        |pw AS (SELECT (SELECT pmic FROM pr WHERE y) AS pp,
        |              (SELECT pmic FROM pr WHERE NOT y) AS pn)
        |SELECT doc_id,
        |  round(CAST((sp + pp) - (sn + pn) AS DOUBLE) / 1000000.0, 6)
        |    AS logodds,
        |  (sp + pp) - (sn + pn) > 0 AS pred
        |FROM s1, pw""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // r18 verdict item 3: persisted-artifact parity — train once, write
      // the bounded model frame, reload, score (hash-gated end to end)
      val model = modelRoundTrip(s, "quality_nb", d,
        TextAnalysis.nbQualityTrain(
          docs.withColumn("_y", pmod(col("doc_id"), lit(2)) === 0),
          "text", "_y", buckets = 1024))
      TextAnalysis.nbQualityScore(model, docs, "text", "doc_id", buckets = 1024)
    },

    // Mojibake repair (TextAnalysis.fixEncoding, ftfy-class): both engines
    // inject identical doc_id-derived damage (the q_pii_scrub injection
    // stance) — every 3rd doc gets a suffix whose accents went through
    // the UTF-8-read-as-cp1252 wringer ("cafÃ©", "â€™") — and the oracle
    // restates the REPAIRED text directly, so the hash gate proves the
    // cp1252 fold + UTF-8-shape detect + decode pipeline byte-exactly.
    // Undamaged (pure-ASCII) docs must pass through verbatim.
    // PRECONDITION (r16 ADVICE): the `repaired` flag is `fixed != input`
    // on the Spark side but `doc_id % 3 = 0` in the oracle — these agree
    // only while the base corpus text is pure ASCII (a damaged doc whose
    // base text carried an honest Latin-1 accent would repair at the line
    // grain but fail the doc-grain UTF-8-shape gate). The precondition is
    // asserted by TextAnalysisSpec "corpus fixture is pure ASCII", so a
    // future corpus change breaks THERE with a named cause, not here.
    q("q_fix_encoding",
      s"""SELECT doc_id,
        |  text || CASE WHEN doc_id % 3 = 0 THEN '$FixEncCleanSfx' ELSE '' END
        |    AS fixed,
        |  doc_id % 3 = 0 AS repaired
        |FROM documents WHERE text IS NOT NULL""".stripMargin) { (s, d) =>
      val corrupted = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(FixEncMojiSfx))
          .otherwise(lit("")))
      Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), corrupted.as("_c"))
        .select(col("doc_id"),
          TextAnalysis.fixEncoding(col("_c")).as("fixed"),
          (TextAnalysis.fixEncoding(col("_c")) =!= col("_c")).as("repaired"))
    },

    // LINE-grain mojibake repair (TextAnalysis.fixEncodingLines) on the
    // mix the doc grain provably cannot fix: every 3rd doc gains an
    // HONEST-Latin-1 line ("voilà café" — real accents, invalid as
    // bytes-as-chars UTF-8) AND a mojibake line in the same document.
    // Doc-grain fixEncoding must refuse the whole doc (the honest accent
    // fails the shape gate); per line, the damaged line repairs while the
    // honest line and the pure-ASCII base pass through verbatim. The
    // oracle restates the repaired text directly (the q_fix_encoding
    // injection stance) — same pure-ASCII-corpus precondition, asserted
    // by TextAnalysisSpec "corpus fixture is pure ASCII".
    q("q_fix_encoding_lines",
      s"""SELECT doc_id,
        |  text || CASE WHEN doc_id % 3 = 0
        |    THEN chr(10) || '$FixEncHonestLine' || chr(10) || '$FixEncCleanSfx'
        |    ELSE '' END AS fixed,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_lines_repaired
        |FROM documents WHERE text IS NOT NULL""".stripMargin) { (s, d) =>
      val corrupted = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("\n" + FixEncHonestLine + "\n" + FixEncMojiSfx))
          .otherwise(lit("")))
      Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), corrupted.as("_c"))
        .select(col("doc_id"),
          TextAnalysis.fixEncodingLines(col("_c")).as("fixed"),
          size(filter(split(col("_c"), "\n", -1),
            l => TextAnalysis.fixEncoding(l) =!= l)).cast("long")
            .as("n_lines_repaired"))
    },

    // Content-defined chunking (TextAnalysis.cdcChunks / functions.
    // CdcChunks; LBFS cut-point rule): split after any byte whose
    // trailing 8-byte FNV hash has its low 5 bits zero (~32-byte
    // expected chunks). The oracle recomputes every cut from raw UTF-8
    // bytes — the q_fingerprint hex→bytes→unrolled-fnv8 machinery — and
    // rebuilds the chunk strings positionally, so the hash gate proves
    // cut placement AND chunk reassembly byte-exactly. Scoped doc_id<100
    // (byte-level SQL stays a bounded slice, the q_fingerprint stance).
    q("q_cdc_chunks",
      s"""WITH scoped AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 100 AND text IS NOT NULL),
        |b AS (
        |  SELECT doc_id, text, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb FROM scoped),
        |bytes AS (
        |  SELECT doc_id, text, nb,
        |    [ (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)*16
        |      + strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1
        |      for i in range(1, nb + 1) ] AS bs
        |  FROM b WHERE nb > 0),
        |grams AS (
        |  SELECT doc_id, text, nb,
        |    [ $fnv8Unrolled
        |      for i in range(1, greatest(nb - 8 + 2, 1)) ] AS hs
        |  FROM bytes),
        |cuts AS (
        |  SELECT doc_id, text, nb,
        |    [ i + 7 for i in range(1, len(hs) + 1)
        |      if hs[i] % 32 = 0 AND i + 7 < nb ] AS cs
        |  FROM grams),
        |chunks AS (
        |  SELECT doc_id,
        |    [ substr(text,
        |        CASE WHEN k = 1 THEN 1 ELSE cs[k-1] + 1 END,
        |        (CASE WHEN k = len(cs) + 1 THEN nb ELSE cs[k] END)
        |          - (CASE WHEN k = 1 THEN 0 ELSE cs[k-1] END))
        |      for k in range(1, len(cs) + 2) ] AS ck
        |  FROM cuts),
        |sel AS (
        |  SELECT doc_id, unnest(range(1, len(ck) + 1)) AS chunk_idx,
        |    unnest(ck) AS chunk_text
        |  FROM chunks)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk_text,
        |  CAST(octet_length(encode(chunk_text)) AS INT) AS n_bytes
        |FROM sel""".stripMargin) { (s, d) =>
      ops.TextAnalysis.cdcChunks(
        Tables.documents(s, d).filter(col("doc_id") < 100),
        "text", "doc_id", window = 8, maskBits = 5)
    },

    // CDC chunk-grain dedup savings — the composite the chunker EXISTS
    // for (storage/transfer dedup reads this report before committing to
    // a chunk store): cdcChunks → chunk-text-grain counts → one summary
    // row of total vs distinct bytes. The 31-word corpus vocabulary makes
    // real cross-document chunk collisions, so dup_bytes is non-trivial.
    // Oracle: the q_cdc_chunks byte-exact cut replay + the same two-level
    // aggregate.
    q("q_cdc_dedup",
      s"""WITH scoped AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 100 AND text IS NOT NULL),
        |b AS (
        |  SELECT doc_id, text, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb FROM scoped),
        |bytes AS (
        |  SELECT doc_id, text, nb,
        |    [ (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)*16
        |      + strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1
        |      for i in range(1, nb + 1) ] AS bs
        |  FROM b WHERE nb > 0),
        |grams AS (
        |  SELECT doc_id, text, nb,
        |    [ $fnv8Unrolled
        |      for i in range(1, greatest(nb - 8 + 2, 1)) ] AS hs
        |  FROM bytes),
        |cuts AS (
        |  SELECT doc_id, text, nb,
        |    [ i + 7 for i in range(1, len(hs) + 1)
        |      if hs[i] % 32 = 0 AND i + 7 < nb ] AS cs
        |  FROM grams),
        |chunks AS (
        |  SELECT doc_id,
        |    [ substr(text,
        |        CASE WHEN k = 1 THEN 1 ELSE cs[k-1] + 1 END,
        |        (CASE WHEN k = len(cs) + 1 THEN nb ELSE cs[k] END)
        |          - (CASE WHEN k = 1 THEN 0 ELSE cs[k-1] END))
        |      for k in range(1, len(cs) + 2) ] AS ck
        |  FROM cuts),
        |sel AS (SELECT doc_id, unnest(ck) AS chunk_text FROM chunks),
        |pc AS (
        |  SELECT chunk_text, count(*) AS n,
        |    octet_length(encode(chunk_text)) AS bts
        |  FROM sel GROUP BY chunk_text)
        |SELECT CAST(sum(n) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(n * bts) AS BIGINT) AS total_bytes,
        |  CAST(sum(bts) AS BIGINT) AS distinct_bytes,
        |  CAST(sum(n * bts) - sum(bts) AS BIGINT) AS dup_bytes,
        |  round(CAST(sum(bts) AS DOUBLE) / sum(n * bts), 6) AS dedup_ratio
        |FROM pc""".stripMargin) { (s, d) =>
      val ch = ops.TextAnalysis.cdcChunks(
        Tables.documents(s, d).filter(col("doc_id") < 100),
        "text", "doc_id", window = 8, maskBits = 5)
      ch.groupBy(col("chunk_text"))
        .agg(count(lit(1)).as("_n"), first(col("n_bytes")).as("_b"))
        .agg(sum(col("_n")).as("n_chunks"),
          count(lit(1)).as("n_distinct"),
          sum(col("_n") * col("_b")).as("total_bytes"),
          sum(col("_b")).as("distinct_bytes"),
          (sum(col("_n") * col("_b")) - sum(col("_b"))).as("dup_bytes"),
          round(sum(col("_b")).cast("double") /
            sum(col("_n") * col("_b")), 6).as("dedup_ratio"))
    },

    // CDC dedup as a curation ACTION (Dedup.dedupCdcChunks): where
    // q_cdc_dedup only REPORTS savings, this rewrites the corpus at chunk
    // grain — keep the globally first occurrence of each chunk content
    // (deterministic (doc_id, chunk_idx) order), reassemble docs from
    // surviving chunks byte-exactly. The oracle replays the q_cdc_chunks
    // cut arithmetic, then the keep-first window + ordered string_agg
    // reassembly, so the hash gate proves cut placement, keeper choice,
    // AND byte-exact reassembly. Same bounded doc_id<100 scope.
    q("q_cdc_dedup_apply",
      s"""WITH scoped AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 100 AND text IS NOT NULL),
        |b AS (
        |  SELECT doc_id, text, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb FROM scoped),
        |bytes AS (
        |  SELECT doc_id, text, nb,
        |    [ (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)*16
        |      + strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1
        |      for i in range(1, nb + 1) ] AS bs
        |  FROM b WHERE nb > 0),
        |grams AS (
        |  SELECT doc_id, text, nb,
        |    [ $fnv8Unrolled
        |      for i in range(1, greatest(nb - 8 + 2, 1)) ] AS hs
        |  FROM bytes),
        |cuts AS (
        |  SELECT doc_id, text, nb,
        |    [ i + 7 for i in range(1, len(hs) + 1)
        |      if hs[i] % 32 = 0 AND i + 7 < nb ] AS cs
        |  FROM grams),
        |chunks AS (
        |  SELECT doc_id,
        |    [ substr(text,
        |        CASE WHEN k = 1 THEN 1 ELSE cs[k-1] + 1 END,
        |        (CASE WHEN k = len(cs) + 1 THEN nb ELSE cs[k] END)
        |          - (CASE WHEN k = 1 THEN 0 ELSE cs[k-1] END))
        |      for k in range(1, len(cs) + 2) ] AS ck
        |  FROM cuts),
        |sel AS (
        |  SELECT doc_id, unnest(range(1, len(ck) + 1)) AS chunk_idx,
        |    unnest(ck) AS chunk_text
        |  FROM chunks),
        |rk AS (
        |  SELECT doc_id, chunk_idx, chunk_text,
        |    octet_length(encode(chunk_text)) AS nb,
        |    row_number() OVER (PARTITION BY chunk_text
        |      ORDER BY doc_id, chunk_idx) AS rn
        |  FROM sel)
        |SELECT doc_id,
        |  coalesce(string_agg(chunk_text, '' ORDER BY chunk_idx)
        |    FILTER (WHERE rn = 1), '') AS text_dedup,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(nb) FILTER (WHERE rn = 1), 0) AS BIGINT)
        |    AS bytes_kept
        |FROM rk GROUP BY doc_id""".stripMargin) { (s, d) =>
      ops.Dedup.dedupCdcChunks(
        Tables.documents(s, d).filter(col("doc_id") < 100),
        "text", "doc_id", window = 8, maskBits = 5)
    },

    // Lexicon blocklist filter (TextAnalysis.blocklistFilter; the C4
    // "bad words" stage): word-grain occurrence counts against a
    // broadcast lexicon — tokens explode scan-side into a broadcast
    // semi-join + ONE map-side-combined id-grain count (never an inlined
    // per-token comparison chain, so lexicon size doesn't change the
    // scan). 'spam' is absent from the corpus vocabulary, exercising the
    // no-hit path; maxHits=1 makes the verdict a threshold, not a bool.
    q("q_blocklist",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST(len(list_filter(tk,
        |    t -> list_contains(['dup', 'slow', 'spam'], t))) AS BIGINT)
        |    AS n_blocked,
        |  len(list_filter(tk,
        |    t -> list_contains(['dup', 'slow', 'spam'], t))) > 1 AS blocked
        |FROM tok""".stripMargin) { (s, d) =>
      TextAnalysis.blocklistFilter(Tables.documents(s, d), "text", "doc_id",
        Seq("dup", "slow", "spam"), maxHits = 1L)
    },

    // PHRASE blocklist (TextAnalysis.phraseBlocklist — the multi-word /
    // substring sibling of q_blocklist): ONE Aho–Corasick pass per doc
    // counts every OVERLAPPING occurrence of any lexicon phrase plus the
    // distinct phrases matched, regardless of lexicon size (goto/failure/
    // emit arrays ride as a bounded codegen reference object — per-phrase
    // instr scans would re-read the corpus once per phrase at 100 TB).
    // "batch batch" self-overlaps in the corpus's repeated-word runs
    // (so the oracle must count overlapping positions, not replace()
    // arithmetic), "zz absent" exercises the no-hit path, maxHits=2 makes
    // the verdict a real threshold (7 blocked docs at sf0.1). The oracle
    // replays every (doc, phrase, position) via a length-bounded series.
    q("q_phrase_blocklist",
      """WITH ph(phrase) AS (VALUES ('batch batch'), ('join order'),
        |    ('table scan'), ('zz absent')),
        |series AS (SELECT unnest(range(1,
        |  (SELECT CAST(max(length(text)) AS BIGINT) + 1 FROM documents))) AS i),
        |occ AS (
        |  SELECT d.doc_id, p.phrase, count(*) AS c
        |  FROM documents d, ph p, series g
        |  WHERE d.text IS NOT NULL
        |    AND g.i <= length(d.text) - length(p.phrase) + 1
        |    AND substr(d.text, CAST(g.i AS BIGINT), length(p.phrase)) = p.phrase
        |  GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  CAST(coalesce(sum(o.c), 0) AS BIGINT) AS n_hits,
        |  CAST(count(o.phrase) AS BIGINT) AS n_phrases,
        |  coalesce(sum(o.c), 0) > 2 AS blocked
        |FROM documents d LEFT JOIN occ o USING (doc_id)
        |WHERE d.text IS NOT NULL
        |GROUP BY d.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.phraseBlocklist(Tables.documents(s, d), "text", "doc_id",
        Seq("batch batch", "join order", "table scan", "zz absent"),
        maxHits = 2L)
    },

    // Dolma-architecture attribute sweep (TextAnalysis.docAttributes;
    // Soldaini et al. 2024 — run taggers ONCE, mix later): every
    // row-local quality signal in ONE projection over ONE scan — at
    // 100 TB the naive per-signal composition re-reads the corpus nine
    // times, this reads it once (text tokenized ONCE into a real column;
    // zero exchanges, plan pinned by TextAnalysisSpec). The oracle
    // recomputes each signal from the same tokenization: per-doc word
    // counts feed mean/distinct/mode/entropy, the stopword lists feed
    // stop_ratio and the q_lang_pred argmax CASE.
    q("q_doc_attributes",
      """WITH tok AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |t2 AS (SELECT * FROM tok WHERE len(tk) > 0),
        |w AS (SELECT doc_id, unnest(tk) AS w, len(tk) AS n FROM t2),
        |c AS (SELECT doc_id, w, max(n) AS n, count(*) AS c FROM w GROUP BY doc_id, w),
        |agg AS (
        |  SELECT doc_id, max(n) AS n_tokens, count(*) AS n_distinct,
        |    max(c) AS max_c, sum(length(w) * c) AS tok_chars,
        |    round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6)
        |      AS entropy
        |  FROM c GROUP BY doc_id),
        |hits AS (
        |  SELECT doc_id,
        |    len(list_filter(tk, t -> list_contains(['der','die','das','und','zu'], t))) AS de_h,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to'], t))) AS en_h,
        |    len(list_filter(tk, t -> list_contains(['el','la','los','y','de'], t))) AS es_h,
        |    len(list_filter(tk, t -> list_contains(['le','la','et','les','de'], t))) AS fr_h
        |  FROM t2)
        |SELECT t2.doc_id, CAST(t2.n_chars AS BIGINT) AS n_chars,
        |  CAST(a.n_tokens AS BIGINT) AS n_tokens,
        |  round(CAST(a.tok_chars AS DOUBLE) / a.n_tokens, 6) AS mean_tok_len,
        |  round(CAST(a.n_distinct AS DOUBLE) / a.n_tokens, 6) AS distinct_ratio,
        |  round(CAST(h.en_h AS DOUBLE) / a.n_tokens, 6) AS stop_ratio,
        |  round(CAST(a.max_c AS DOUBLE) / a.n_tokens, 6) AS max_tok_share,
        |  a.entropy,
        |  CASE WHEN greatest(h.de_h, h.en_h, h.es_h, h.fr_h) = 0 THEN 'und'
        |       WHEN h.fr_h = greatest(h.de_h, h.en_h, h.es_h, h.fr_h) THEN 'fr'
        |       WHEN h.es_h = greatest(h.de_h, h.en_h, h.es_h, h.fr_h) THEN 'es'
        |       WHEN h.en_h = greatest(h.de_h, h.en_h, h.es_h, h.fr_h) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM t2 JOIN agg a USING (doc_id) JOIN hits h USING (doc_id)""".stripMargin) { (s, d) =>
      TextAnalysis.docAttributes(Tables.documents(s, d), "text", "doc_id")
    },

    // Distributed LOGISTIC REGRESSION (Learn.lrTrain/lrScore) — the
    // trained-model family's third member, and the first that needs
    // ITERATIVE optimization (NB trains in one aggregate; LR cannot):
    // full-batch gradient descent where each iteration is ONE
    // map-side-combined aggregate and the model is 4 driver doubles,
    // micro-quantized after every update so the whole trajectory is
    // deterministic across engines and partitionings. Features are the
    // (already 6-dec-quantized) docAttributes signals, materialized ONCE
    // (each iteration rescans features, never the corpus). The label
    // plants a known boundary (max_tok_share > 0.09, the q_dedup_eval
    // synthesized-fixture stance — this corpus carries no organic
    // label signal); boundary RECOVERY is pinned by LearnSpec, and the
    // oracle replays all 8 unrolled iterations: the hash gate proves the
    // optimization trajectory, not just the final projection.
    q("q_lr_quality",
      s"""WITH tok AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |t2 AS (SELECT * FROM tok WHERE len(tk) > 0),
        |wd AS (SELECT doc_id, unnest(tk) AS w, len(tk) AS n FROM t2),
        |c AS (SELECT doc_id, w, max(n) AS n, count(*) AS c FROM wd GROUP BY doc_id, w),
        |agg AS (
        |  SELECT doc_id, max(n) AS n_tokens, count(*) AS n_distinct,
        |    max(c) AS max_c
        |  FROM c GROUP BY doc_id),
        |hits AS (
        |  SELECT doc_id,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to'], t))) AS en_h
        |  FROM t2),
        |feats AS (
        |  SELECT t2.doc_id, 1.0 AS fb,
        |    round(CAST(a.n_distinct AS DOUBLE) / a.n_tokens, 6) AS fdr,
        |    round(CAST(h.en_h AS DOUBLE) / a.n_tokens, 6) AS fsr,
        |    round(CAST(a.max_c AS DOUBLE) / a.n_tokens, 6) AS fms,
        |    CASE WHEN round(CAST(a.max_c AS DOUBLE) / a.n_tokens, 6) > 0.09
        |         THEN 1.0 ELSE 0.0 END AS y
        |  FROM t2 JOIN agg a USING (doc_id) JOIN hits h USING (doc_id)),
        |w0 AS (SELECT 0.0 AS wb, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
        |${lrIterCtes(8, 1.0)}
        |SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
        |  round(1.0 / (1.0 + exp(-((((f.fb * w.wb) + f.fdr * w.w1)
        |    + f.fsr * w.w2) + f.fms * w.w3))), 6) AS lr_score,
        |  1.0 / (1.0 + exp(-((((f.fb * w.wb) + f.fdr * w.w1)
        |    + f.fsr * w.w2) + f.fms * w.w3))) >= 0.5 AS lr_pred
        |FROM feats f, w8 w""".stripMargin) { (s, d) =>
      val at = TextAnalysis.docAttributes(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), lit(1.0).as("f_bias"),
          col("distinct_ratio").as("f_dr"), col("stop_ratio").as("f_sr"),
          col("max_tok_share").as("f_ms"),
          (col("max_tok_share") > lit(0.09)).cast("double").as("y"))
        .localCheckpoint(false)
      val feats = Seq("f_bias", "f_dr", "f_sr", "f_ms")
      val w = ops.Learn.lrTrain(at, feats, "y", iters = 8, lr = 1.0)
      // r18 verdict item 3: the weight vector round-trips parquet as a
      // one-row model frame before scoring — identical trajectory (the
      // micro-quantized doubles are exact), persisted-artifact parity
      // with knTrain/nbLangTrain.
      val w2 = ops.Learn.lrWeights(
        modelRoundTrip(s, "lr_quality", d, ops.Learn.lrModelFrame(s, feats, w)),
        feats)
      ops.Learn.lrScore(at, feats, w2)
        .select(col("doc_id"), col("y").cast("long").as("label"),
          col("lr_score"), col("lr_pred"))
    },

    // Dedup-configuration eval (Dedup.dedupEval) — retrievalEval's
    // analogue for dedup, on a fixture where NEITHER metric is vacuous
    // (the corpus's own 31-word vocabulary makes every doc pair a
    // near-dup — the degenerate shape the r15 ScaleCheck work named — so
    // the docs are synthesized from id arithmetic instead): doc i < 100
    // carries tokens w(3i)..w(3i+L-1) with L = i%6 + 8, its +1000 copy
    // drops the last 5 (truth pairs by id arithmetic, Jaccard (L-5)/L —
    // ≥ θ=0.5 only for L ≥ 10, so recall is a REAL 0.66), and stride-3
    // sliding windows plant organic neighbor overlaps outside truth
    // (precision a real 0.31). The oracle restates construction, the
    // brute all-pairs Jaccard, and the exact-integer P/R/F1 formulas.
    q("q_dedup_eval",
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |base AS (
        |  SELECT doc_id, list_transform(range(0, (doc_id % 6) + 8),
        |    j -> 'w' || (doc_id * 3 + j)) AS toks
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id + 1000 AS doc_id,
        |    list_transform(range(0, greatest((doc_id % 6) + 8 - 5, 3)),
        |      j -> 'w' || (doc_id * 3 + j)) AS toks
        |  FROM ids),
        |ex AS (SELECT doc_id, unnest(toks) AS w FROM base),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM base),
        |pred AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE shared / (sa.n + sb.n - shared) >= 0.5),
        |m AS (
        |  SELECT (SELECT count(*) FROM pred) AS n_pred,
        |    (SELECT count(*) FROM ids) AS n_true,
        |    (SELECT count(*) FROM pred
        |     WHERE id_a < 100 AND id_b = id_a + 1000) AS tp)
        |SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
        |  CAST(tp AS BIGINT) AS tp,
        |  round(CAST(tp AS DOUBLE) / n_pred, 6) AS precision,
        |  round(CAST(tp AS DOUBLE) / n_true, 6) AS recall,
        |  round(2.0 * tp / (n_pred + n_true), 6) AS f1
        |FROM m""".stripMargin) { (s, d) =>
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"))
      def mkText(len: Column): Column = array_join(
        transform(sequence(lit(0L), len - 1),
          j => concat(lit("w"), (col("doc_id") * 3 + j).cast("string"))), " ")
      val fullLen = pmod(col("doc_id"), lit(6)) + 8
      val base = ids.select(col("doc_id"), mkText(fullLen).as("text"))
      // text FIRST, id re-key SECOND: aliasing doc_id→doc_id+1000 in the
      // same select would shadow the input attribute inside mkText's
      // lambda (measured: the copy's tokens came out keyed by the NEW id)
      val copies = ids
        .select(col("doc_id").as("_o"),
          mkText(greatest(fullLen - 5, lit(3))).as("text"))
        .select((col("_o") + 1000L).as("doc_id"), col("text"))
      val pred = ops.Dedup.jaccardPairs(base.unionByName(copies), "text",
        "doc_id", shingleN = 1, threshold = 0.5)
      val truth = ids.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1000L).as("id_b"))
      ops.Dedup.dedupEval(pred, truth)
    },

    // Cohen's kappa (CorpusStats.cohenKappa) between the corpus's
    // annotated `lang` column and the n-gram language-ID prediction --
    // chance-corrected annotation-vs-classifier agreement, the label
    // quality gate. All terms exact DECIMAL(38) integers; the oracle
    // replays the identical langid heuristic then the same closed form.
    q("q_cohen_kappa",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(tk, t -> list_contains(['der','die','das','und','zu'], t))) AS de_h,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to'], t))) AS en_h,
        |    len(list_filter(tk, t -> list_contains(['el','la','los','y','de'], t))) AS es_h,
        |    len(list_filter(tk, t -> list_contains(['le','la','et','les','de'], t))) AS fr_h
        |  FROM toks),
        |pred AS (
        |  SELECT lang AS a,
        |    CASE WHEN greatest(de_h, en_h, es_h, fr_h) = 0 THEN 'und'
        |         WHEN fr_h = greatest(de_h, en_h, es_h, fr_h) THEN 'fr'
        |         WHEN es_h = greatest(de_h, en_h, es_h, fr_h) THEN 'es'
        |         WHEN en_h = greatest(de_h, en_h, es_h, fr_h) THEN 'en'
        |         ELSE 'de' END AS b
        |  FROM hits),
        |f AS (SELECT a, b FROM pred WHERE a IS NOT NULL AND b IS NOT NULL),
        |ra AS (SELECT a, count(*) AS na FROM f GROUP BY a),
        |rb AS (SELECT b, count(*) AS nb FROM f GROUP BY b),
        |pe AS (SELECT coalesce(sum(CAST(na AS HUGEINT) * nb), 0) AS pe
        |       FROM ra JOIN rb ON ra.a = rb.b),
        |t AS (SELECT count(*) AS n,
        |        coalesce(sum(CASE WHEN a = b THEN 1 ELSE 0 END), 0) AS agree
        |      FROM f)
        |SELECT CAST(n AS BIGINT) AS n_items, CAST(agree AS BIGINT) AS n_agree,
        |  CASE WHEN CAST(n AS HUGEINT) * n = pe THEN NULL
        |       ELSE round(CAST(CAST(n AS HUGEINT) * agree - pe AS DOUBLE)
        |              / CAST(CAST(n AS HUGEINT) * n - pe AS DOUBLE), 6)
        |  END AS kappa
        |FROM t, pe""".stripMargin) { (s, d) =>
      ops.CorpusStats.cohenKappa(
        Tables.documents(s, d)
          .withColumn("_toks", Dedup.tokens(col("text")))
          .select(col("lang"),
            TextAnalysis.langIdFromTokens(col("_toks")).as("lang_pred")),
        "lang", "lang_pred")
    },

    // Chi-square independence + Cramer's V (CorpusStats.
    // chiSquareIndependence) on the source x lang contingency: per-cell
    // (o*n - r*c)^2/(n*r*c) over exact DECIMAL38 integers, micro-rounded
    // to LONG before the cross-cell sum (no float-sum order dependence),
    // V = sqrt(chi2/(n*min(R-1,C-1))).
    q("q_chisq",
      """WITH base AS (
        |  SELECT source AS a, lang AS b FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL),
        |cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b),
        |ra AS (SELECT a, count(*) AS r FROM base GROUP BY a),
        |cb AS (SELECT b, count(*) AS c FROM base GROUP BY b),
        |tot AS (SELECT count(*) AS n, count(DISTINCT a) AS rl,
        |          count(DISTINCT b) AS cl FROM base),
        |m AS (
        |  SELECT CAST(round(
        |      CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
        |      * CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE) * 1e6) AS BIGINT)
        |      AS micro,
        |    n, rl, cl
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b), tot)
        |SELECT CAST(n AS BIGINT) AS n, CAST(rl AS BIGINT) AS r_levels,
        |  CAST(cl AS BIGINT) AS c_levels,
        |  CAST(coalesce(sum(micro), 0) AS DOUBLE) / 1e6 AS chi2,
        |  CASE WHEN least(rl, cl) <= 1 THEN NULL
        |    ELSE round(sqrt((CAST(coalesce(sum(micro), 0) AS DOUBLE) / 1e6)
        |      / (CAST(n AS DOUBLE) * CAST(least(rl, cl) - 1 AS DOUBLE))), 6)
        |  END AS cramers_v
        |FROM m GROUP BY n, rl, cl""".stripMargin) { (s, d) =>
      ops.CorpusStats.chiSquareIndependence(
        Tables.documents(s, d).select(col("source"), col("lang")),
        "source", "lang")
    },

    // Mutual information + Theil's U (CorpusStats.mutualInformation) on
    // the same source x lang table: micro-log LONGs per cell/marginal,
    // exact DECIMAL38 sums divided once by n in integer micro-units;
    // U(A|B) = MI/H(A), U(B|A) = MI/H(B) -- the DIRECTIONAL association
    // Cramer's V can't express.
    q("q_mutual_info",
      """WITH base AS (
        |  SELECT source AS a, lang AS b FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL),
        |cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b),
        |ra AS (SELECT a, count(*) AS r FROM base GROUP BY a),
        |cb AS (SELECT b, count(*) AS c FROM base GROUP BY b),
        |tot AS (SELECT count(*) AS n FROM base),
        |mi AS (
        |  SELECT coalesce(sum(CAST(o AS HUGEINT)
        |    * CAST(round(ln(CAST(CAST(o AS HUGEINT) * n AS DOUBLE)
        |        / CAST(CAST(r AS HUGEINT) * c AS DOUBLE)) * 1e6) AS BIGINT)),
        |    0) AS mi
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b), tot),
        |ha AS (
        |  SELECT coalesce(sum(CAST(r AS HUGEINT)
        |    * CAST(round(ln(CAST(n AS DOUBLE) / CAST(r AS DOUBLE)) * 1e6)
        |        AS BIGINT)), 0) AS ha
        |  FROM ra, tot),
        |hb AS (
        |  SELECT coalesce(sum(CAST(c AS HUGEINT)
        |    * CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1e6)
        |        AS BIGINT)), 0) AS hb
        |  FROM cb, tot),
        |m AS (
        |  SELECT n,
        |    CAST(round(CAST(ha AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS ham,
        |    CAST(round(CAST(hb AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS hbm,
        |    CAST(round(CAST(mi AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mim
        |  FROM tot, mi, ha, hb)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(ham AS DOUBLE) / 1e6 AS h_a,
        |  CAST(hbm AS DOUBLE) / 1e6 AS h_b,
        |  CAST(mim AS DOUBLE) / 1e6 AS mi_nats,
        |  CASE WHEN ham = 0 THEN NULL
        |    ELSE round(CAST(mim AS DOUBLE) / CAST(ham AS DOUBLE), 6)
        |  END AS u_ab,
        |  CASE WHEN hbm = 0 THEN NULL
        |    ELSE round(CAST(mim AS DOUBLE) / CAST(hbm AS DOUBLE), 6)
        |  END AS u_ba
        |FROM m""".stripMargin) { (s, d) =>
      ops.CorpusStats.mutualInformation(
        Tables.documents(s, d).select(col("source"), col("lang")),
        "source", "lang")
    },

    q("q_quality_score",
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '')) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '' AND list_contains(
        |        ['the','a','and','of','to','der','die','das','und','zu',
        |         'le','la','et','les','de','el','los','y'], t))) AS DOUBLE) AS hits,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
        |    length(regexp_replace(regexp_replace(text, '\s+', '', 'g'),
        |      '[\p{L}\p{N}]', '', 'g')) AS n_punct
        |  FROM documents)
        |SELECT doc_id,
        |  round(least(n_tok / 64.0, 1.0) * 0.4
        |    + least(hits * 8.0 / greatest(n_tok, 1.0), 1.0) * 0.3
        |    + greatest(1.0 - (CASE WHEN n_nonspace = 0 THEN 0.0
        |        ELSE CAST(n_punct AS DOUBLE) / n_nonspace END) * 4.0, 0.0) * 0.3,
        |  6) AS quality
        |FROM base""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
    },

    // Flesch reading-ease (TextAnalysis.fleschScore): the text-difficulty
    // axis next to q_quality_score's junk axis -- regexp-only counting
    // contract (whitespace words, [.!?]+ sentence runs min 1, [aeiouy]+
    // vowel runs min words) and ONE fixed-shape IEEE expression, round-6.
    // Per-row, no shuffle.
    q("q_readability",
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '')) AS w,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN w = 0 THEN NULL
        |    ELSE round(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |      - 84.6 * (CAST(greatest(w, vr) AS DOUBLE) / CAST(w AS DOUBLE)), 6)
        |  END AS flesch
        |FROM base""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        ops.TextAnalysis.fleschScore(col("text")).as("flesch"))
    },

    // Perplexity-proxy quality score: per-doc mean token log-probability
    // under the corpus's own unigram LM (the CCNet recipe's degenerate
    // distributed case — no external model artifact). Per-token ln values
    // accumulate as round(ln·10⁶) LONGs, exact and order-independent, so
    // the doc score is hash-stable across engines and partitionings.
    q("q_unigram_logprob",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(tk) AS w FROM tk),
        |vc AS (SELECT w, count(*) AS cnt FROM ex GROUP BY w),
        |tot AS (SELECT sum(cnt) AS total FROM vc),
        |lp AS (
        |  SELECT w, CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
        |    * 1000000.0) AS BIGINT) AS lp
        |  FROM vc, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  round((CAST(sum(lp) AS DOUBLE) / 1000000.0)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_logprob
        |FROM ex JOIN lp USING (w)
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      ops.Selection.unigramLogProb(Tables.documents(s, d), "text", "doc_id")
    },

    // Bigram LM with add-1 smoothing — the word-ORDER-aware perplexity
    // proxy (P(w2|w1) = (c12+1)/(c1+V)). Same scaled-LONG ln discipline
    // as the unigram LM; V counts the FULL token vocabulary (all
    // positions, all docs), histories count bigram occurrences.
    q("q_bigram_logprob",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, tk[s+1] || ' ' || tk[s+2] AS bg, tk[s+1] AS w1
        |  FROM (SELECT * FROM tk WHERE len(tk) >= 2), unnest(range(0, len(tk)-1)) u(s)),
        |c12 AS (SELECT bg, min(w1) AS w1, count(*) AS c12 FROM bg GROUP BY bg),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs
        |      FROM (SELECT unnest(tk) AS w FROM tk)),
        |lp AS (
        |  SELECT bg, CAST(round(ln((CAST(c12 AS DOUBLE) + 1.0)
        |    / (CAST(c1 AS DOUBLE) + vs)) * 1000000.0) AS BIGINT) AS lp
        |  FROM c12 JOIN c1 USING (w1), v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT)
        |    / 1000000.0 AS avg_logprob
        |FROM bg JOIN lp USING (bg)
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      ops.Selection.bigramLogProb(Tables.documents(s, d), "text", "doc_id")
    },

    // Interpolated Kneser-Ney trigram LM (Selection.knLogProb; Kneser &
    // Ney 1995 / Chen & Goodman 1999 arithmetic) — absolute discount
    // D=0.75, lower orders over CONTINUATION counts (distinct trigram
    // types), base distribution add-1 over continuation types. The
    // oracle replays the whole trajectory: trigram types, history
    // counts, continuation counts N1+(·w2w3)/N1+(w2·)/N1+(·w3), the
    // exact nested double formula (same association order), and the
    // scaled-LONG micro-average. Self-scoring, so every backoff join
    // hits (the held-out backoff branches are pinned by SelectionSpec).
    q("q_kn_logprob",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |tg AS MATERIALIZED (
        |  SELECT doc_id, tk[s+1] AS w1, tk[s+2] AS w2, tk[s+3] AS w3,
        |    tk[s+1] || ' ' || tk[s+2] AS h12,
        |    tk[s+2] || ' ' || tk[s+3] AS h23,
        |    tk[s+1] || ' ' || tk[s+2] || ' ' || tk[s+3] AS g3
        |  FROM (SELECT * FROM tk WHERE len(tk) >= 3), unnest(range(0, len(tk)-2)) u(s)),
        |trip AS (
        |  SELECT g3, min(h12) AS h12, min(h23) AS h23, min(w2) AS w2,
        |    min(w3) AS w3, count(*) AS c123
        |  FROM tg GROUP BY g3),
        |hist AS (SELECT h12, sum(c123) AS c12tot, count(*) AS n1p12
        |         FROM trip GROUP BY h12),
        |cont AS (SELECT h23, min(w2) AS w2, min(w3) AS w3, count(*) AS ndot23
        |         FROM trip GROUP BY h23),
        |mid AS (SELECT w2, sum(ndot23) AS ndotw2dot, count(*) AS n1pw2dot
        |        FROM cont GROUP BY w2),
        |uni AS (SELECT w3, count(*) AS ndotw3 FROM cont GROUP BY w3),
        |nv AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
        |              CAST(count(DISTINCT w3) AS DOUBLE) AS vv FROM cont),
        |lp AS (
        |  SELECT t.g3, CAST(round(ln(
        |    (greatest(CAST(t.c123 AS DOUBLE) - 0.75, 0.0)
        |      + 0.75 * CAST(h.n1p12 AS DOUBLE) *
        |        ((greatest(CAST(c.ndot23 AS DOUBLE) - 0.75, 0.0)
        |          + 0.75 * CAST(m.n1pw2dot AS DOUBLE) *
        |            ((CAST(u.ndotw3 AS DOUBLE) + 1.0) / (nn + vv + 1.0)))
        |         / CAST(m.ndotw2dot AS DOUBLE)))
        |    / CAST(h.c12tot AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
        |  FROM trip t
        |  JOIN hist h USING (h12)
        |  JOIN cont c USING (h23)
        |  JOIN mid m ON m.w2 = t.w2
        |  JOIN uni u ON u.w3 = t.w3, nv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT)
        |    / 1000000.0 AS avg_logprob
        |FROM tg JOIN lp USING (g3)
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      ops.Selection.knLogProb(Tables.documents(s, d), "text", "doc_id")
    },

    // KN held-out scoring — drives the BACKOFF branches through the
    // oracle (q_kn_logprob self-scores, so its joins all hit): train on
    // 3/4 of the corpus, score the held-out quarter with an injected
    // doc_id-derived suffix (" zq<id> the zq<id>") whose tokens are OOV
    // by construction — forcing every branch: OOV continuation (…, tN,
    // zq), unseen middle (tN, zq, the), unseen history + OOV w3 (zq,
    // the, zq). The oracle replays the model from the SAME train split
    // and the left-join + CASE backoff ladder with identical arithmetic.
    q("q_kn_heldout",
      """WITH ttk AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 4 <> 0),
        |stk AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |    lower(trim(text || ' zq' || doc_id || ' the zq' || doc_id)),
        |    '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0),
        |tg AS MATERIALIZED (
        |  SELECT tk[s+1] AS w1, tk[s+2] AS w2, tk[s+3] AS w3,
        |    tk[s+1] || ' ' || tk[s+2] AS h12,
        |    tk[s+2] || ' ' || tk[s+3] AS h23,
        |    tk[s+1] || ' ' || tk[s+2] || ' ' || tk[s+3] AS g3
        |  FROM (SELECT * FROM ttk WHERE len(tk) >= 3), unnest(range(0, len(tk)-2)) u(s)),
        |trip AS (
        |  SELECT g3, min(h12) AS h12, min(h23) AS h23, min(w2) AS w2,
        |    min(w3) AS w3, count(*) AS c123
        |  FROM tg GROUP BY g3),
        |hist AS (SELECT h12, sum(c123) AS c12tot, count(*) AS n1p12
        |         FROM trip GROUP BY h12),
        |cont AS (SELECT h23, min(w2) AS w2, min(w3) AS w3, count(*) AS ndot23
        |         FROM trip GROUP BY h23),
        |mid AS (SELECT w2, sum(ndot23) AS ndotw2dot, count(*) AS n1pw2dot
        |        FROM cont GROUP BY w2),
        |uni AS (SELECT w3, count(*) AS ndotw3 FROM cont GROUP BY w3),
        |nv AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
        |              CAST(count(DISTINCT w3) AS DOUBLE) AS vv FROM cont),
        |sg AS MATERIALIZED (
        |  SELECT doc_id, tk[s+1] AS w1, tk[s+2] AS w2, tk[s+3] AS w3,
        |    tk[s+1] || ' ' || tk[s+2] AS h12,
        |    tk[s+2] || ' ' || tk[s+3] AS h23,
        |    tk[s+1] || ' ' || tk[s+2] || ' ' || tk[s+3] AS g3
        |  FROM (SELECT * FROM stk WHERE len(tk) >= 3), unnest(range(0, len(tk)-2)) u(s)),
        |sgv AS (SELECT DISTINCT w2, w3, h12, h23, g3 FROM sg),
        |m AS (
        |  SELECT s.g3,
        |    (CAST(coalesce(u.ndotw3, 0) AS DOUBLE) + 1.0) / (nn + vv + 1.0) AS p1,
        |    CASE WHEN md.ndotw2dot IS NULL THEN p1
        |         ELSE (greatest(CAST(coalesce(c.ndot23, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * CAST(md.n1pw2dot AS DOUBLE) * p1)
        |              / CAST(md.ndotw2dot AS DOUBLE) END AS p2,
        |    CASE WHEN h.c12tot IS NULL THEN p2
        |         ELSE (greatest(CAST(coalesce(t.c123, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * CAST(h.n1p12 AS DOUBLE) * p2)
        |              / CAST(h.c12tot AS DOUBLE) END AS p3
        |  FROM sgv s
        |  LEFT JOIN trip t ON t.g3 = s.g3
        |  LEFT JOIN hist h ON h.h12 = s.h12
        |  LEFT JOIN cont c ON c.h23 = s.h23
        |  LEFT JOIN mid md ON md.w2 = s.w2
        |  LEFT JOIN uni u ON u.w3 = s.w3, nv),
        |lp AS (SELECT g3, CAST(round(ln(p3) * 1000000.0) AS BIGINT) AS lp
        |       FROM m)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT)
        |    / 1000000.0 AS avg_logprob
        |FROM sg JOIN lp USING (g3)
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val train = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val heldout = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" zq"), col("doc_id").cast("string"),
            lit(" the zq"), col("doc_id").cast("string")).as("text"))
      ops.Selection.knLogProb(train, heldout, "text", "doc_id")
    },

    // INCREMENTAL KN training (Selection.knTypes/knUpdateTypes/
    // knFromTypes): fold three doc-disjoint corpus slices (doc_id % 3)
    // into the trigram-TYPE count table, then derive the model — at
    // 100 TB corpora arrive in batches, and retraining from scratch per
    // batch re-reads everything. Occurrence counts are additive over
    // doc-disjoint batches, so fold ≡ full retrain BY CONSTRUCTION —
    // while the model's distinct-type grains (hist/cont/mid/uni) are NOT
    // additive and must derive from the folded types (summing two models
    // would double-count cross-batch types; SelectionSpec pins both
    // directions). The oracle is q_kn_logprob's full-corpus replay
    // VERBATIM: the hash gate proves the fold reproduces the one-shot
    // model bit-for-bit on real data through an independent engine.
    q("q_kn_incremental",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |tg AS MATERIALIZED (
        |  SELECT doc_id, tk[s+1] AS w1, tk[s+2] AS w2, tk[s+3] AS w3,
        |    tk[s+1] || ' ' || tk[s+2] AS h12,
        |    tk[s+2] || ' ' || tk[s+3] AS h23,
        |    tk[s+1] || ' ' || tk[s+2] || ' ' || tk[s+3] AS g3
        |  FROM (SELECT * FROM tk WHERE len(tk) >= 3), unnest(range(0, len(tk)-2)) u(s)),
        |trip AS (
        |  SELECT g3, min(h12) AS h12, min(h23) AS h23, min(w2) AS w2,
        |    min(w3) AS w3, count(*) AS c123
        |  FROM tg GROUP BY g3),
        |hist AS (SELECT h12, sum(c123) AS c12tot, count(*) AS n1p12
        |         FROM trip GROUP BY h12),
        |cont AS (SELECT h23, min(w2) AS w2, min(w3) AS w3, count(*) AS ndot23
        |         FROM trip GROUP BY h23),
        |mid AS (SELECT w2, sum(ndot23) AS ndotw2dot, count(*) AS n1pw2dot
        |        FROM cont GROUP BY w2),
        |uni AS (SELECT w3, count(*) AS ndotw3 FROM cont GROUP BY w3),
        |nv AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
        |              CAST(count(DISTINCT w3) AS DOUBLE) AS vv FROM cont),
        |lp AS (
        |  SELECT t.g3, CAST(round(ln(
        |    (greatest(CAST(t.c123 AS DOUBLE) - 0.75, 0.0)
        |      + 0.75 * CAST(h.n1p12 AS DOUBLE) *
        |        ((greatest(CAST(c.ndot23 AS DOUBLE) - 0.75, 0.0)
        |          + 0.75 * CAST(m.n1pw2dot AS DOUBLE) *
        |            ((CAST(u.ndotw3 AS DOUBLE) + 1.0) / (nn + vv + 1.0)))
        |         / CAST(m.ndotw2dot AS DOUBLE)))
        |    / CAST(h.c12tot AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
        |  FROM trip t
        |  JOIN hist h USING (h12)
        |  JOIN cont c USING (h23)
        |  JOIN mid m ON m.w2 = t.w2
        |  JOIN uni u ON u.w3 = t.w3, nv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT)
        |    / 1000000.0 AS avg_logprob
        |FROM tg JOIN lp USING (g3)
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      val types = Seq(slice(1), slice(2)).foldLeft(
        ops.Selection.knTypes(slice(0), "text")) { (t, batch) =>
        ops.Selection.knUpdateTypes(t, batch, "text")
      }
      // the folded type table IS the materialized artifact in this
      // architecture (production writes it to parquet between batches) —
      // materialize the 5-stage fold ONCE at the stage boundary so the
      // six grain derivations read it instead of each replaying the fold
      // (the q_kn_curate localCheckpoint stance; measured 5.5 → ~2 s)
      ops.Selection.knScore(
        ops.Selection.knFromTypes(types.localCheckpoint(false)), docs,
        "text", "doc_id")
    },

    // The CCNet COMPOSITION the KN scorer exists for: score every doc
    // under the corpus LM, then keep the most-natural documents —
    // (avg_logprob DESC, doc_id) order — until a 9k-token budget is
    // exhausted (Wenzek 2020 keeps the low-perplexity tail; budget
    // assembly is selectToTokenBudget's histogram split, oracle is the
    // definition window). Cross-engine score equality is already pinned
    // by q_kn_logprob's hash gate, so the order — and the boundary doc —
    // must agree exactly.
    q("q_kn_curate",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |tg AS MATERIALIZED (
        |  SELECT doc_id, tk[s+1] AS w1, tk[s+2] AS w2, tk[s+3] AS w3,
        |    tk[s+1] || ' ' || tk[s+2] AS h12,
        |    tk[s+2] || ' ' || tk[s+3] AS h23,
        |    tk[s+1] || ' ' || tk[s+2] || ' ' || tk[s+3] AS g3
        |  FROM (SELECT * FROM tk WHERE len(tk) >= 3), unnest(range(0, len(tk)-2)) u(s)),
        |trip AS (
        |  SELECT g3, min(h12) AS h12, min(h23) AS h23, min(w2) AS w2,
        |    min(w3) AS w3, count(*) AS c123
        |  FROM tg GROUP BY g3),
        |hist AS (SELECT h12, sum(c123) AS c12tot, count(*) AS n1p12
        |         FROM trip GROUP BY h12),
        |cont AS (SELECT h23, min(w2) AS w2, min(w3) AS w3, count(*) AS ndot23
        |         FROM trip GROUP BY h23),
        |mid AS (SELECT w2, sum(ndot23) AS ndotw2dot, count(*) AS n1pw2dot
        |        FROM cont GROUP BY w2),
        |uni AS (SELECT w3, count(*) AS ndotw3 FROM cont GROUP BY w3),
        |nv AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
        |              CAST(count(DISTINCT w3) AS DOUBLE) AS vv FROM cont),
        |lp AS (
        |  SELECT t.g3, CAST(round(ln(
        |    (greatest(CAST(t.c123 AS DOUBLE) - 0.75, 0.0)
        |      + 0.75 * CAST(h.n1p12 AS DOUBLE) *
        |        ((greatest(CAST(c.ndot23 AS DOUBLE) - 0.75, 0.0)
        |          + 0.75 * CAST(m.n1pw2dot AS DOUBLE) *
        |            ((CAST(u.ndotw3 AS DOUBLE) + 1.0) / (nn + vv + 1.0)))
        |         / CAST(m.ndotw2dot AS DOUBLE)))
        |    / CAST(h.c12tot AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
        |  FROM trip t
        |  JOIN hist h USING (h12)
        |  JOIN cont c USING (h23)
        |  JOIN mid m ON m.w2 = t.w2
        |  JOIN uni u ON u.w3 = t.w3, nv),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT)
        |      / 1000000.0 AS avg_logprob
        |  FROM tg JOIN lp USING (g3) GROUP BY doc_id),
        |nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok FROM tk),
        |c AS (
        |  SELECT s.doc_id, nt.n_tok, s.avg_logprob,
        |    sum(nt.n_tok) OVER (ORDER BY s.avg_logprob DESC, s.doc_id) AS cum
        |  FROM sc s JOIN nt USING (doc_id))
        |SELECT doc_id, n_tok, avg_logprob FROM c WHERE cum <= 9000""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val kn = ops.Selection.knLogProb(docs, "text", "doc_id")
      // materialize the scored corpus ONCE (the q_curate_select stage-
      // boundary stance): selectToTokenBudget's histogram split reads its
      // input ~3× (stats agg, bucket cumulative, boundary window) and
      // would otherwise re-run the whole KN model+score pipeline each
      // time (measured 7.1 s → 2.4 s)
      val scored = kn.join(
        docs.select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tok")),
        Seq("doc_id"))
        .select(col("doc_id"), col("n_tok"), col("avg_logprob"))
        .localCheckpoint(false)
      ops.Selection.selectToTokenBudget(scored, "doc_id", "n_tok",
        "avg_logprob", budget = 9000L, buckets = 64)
    },

    // KN model PRUNING + the persistable split API (r17 verdict item 4,
    // the KenLM artifact discipline): knTrain materializes a count-
    // threshold-pruned grain-tagged model frame (only the corpus-sized
    // TRIGRAM grain is thresholded; every lower order keeps unpruned
    // statistics), knScore replays the backoff ladder against it. At
    // minCount=2 every singleton trigram type is pruned, so SELF-scoring
    // drives the trig-miss/hist-HIT branch (coalesce(c123,0) with c12tot
    // present — the count-0 backoff value) through the oracle on real
    // data: a branch q_kn_logprob (all hits) and q_kn_heldout (mostly
    // all-miss OOV) bracket but never isolate. The oracle replays the
    // same unpruned model tables, prunes trip with HAVING-equivalent
    // filter, and walks the identical left-join + CASE ladder.
    q("q_kn_pruned",
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |tg AS MATERIALIZED (
        |  SELECT doc_id, tk[s+1] AS w1, tk[s+2] AS w2, tk[s+3] AS w3,
        |    tk[s+1] || ' ' || tk[s+2] AS h12,
        |    tk[s+2] || ' ' || tk[s+3] AS h23,
        |    tk[s+1] || ' ' || tk[s+2] || ' ' || tk[s+3] AS g3
        |  FROM (SELECT * FROM tk WHERE len(tk) >= 3), unnest(range(0, len(tk)-2)) u(s)),
        |trip AS (
        |  SELECT g3, min(h12) AS h12, min(h23) AS h23, min(w2) AS w2,
        |    min(w3) AS w3, count(*) AS c123
        |  FROM tg GROUP BY g3),
        |hist AS (SELECT h12, sum(c123) AS c12tot, count(*) AS n1p12
        |         FROM trip GROUP BY h12),
        |cont AS (SELECT h23, min(w2) AS w2, min(w3) AS w3, count(*) AS ndot23
        |         FROM trip GROUP BY h23),
        |mid AS (SELECT w2, sum(ndot23) AS ndotw2dot, count(*) AS n1pw2dot
        |        FROM cont GROUP BY w2),
        |uni AS (SELECT w3, count(*) AS ndotw3 FROM cont GROUP BY w3),
        |nv AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
        |              CAST(count(DISTINCT w3) AS DOUBLE) AS vv FROM cont),
        |ptrip AS (SELECT * FROM trip WHERE c123 >= 2),
        |tgv AS (SELECT DISTINCT w2, w3, h12, h23, g3 FROM tg),
        |m AS (
        |  SELECT s.g3,
        |    (CAST(coalesce(u.ndotw3, 0) AS DOUBLE) + 1.0) / (nn + vv + 1.0) AS p1,
        |    CASE WHEN md.ndotw2dot IS NULL THEN p1
        |         ELSE (greatest(CAST(coalesce(c.ndot23, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * CAST(md.n1pw2dot AS DOUBLE) * p1)
        |              / CAST(md.ndotw2dot AS DOUBLE) END AS p2,
        |    CASE WHEN h.c12tot IS NULL THEN p2
        |         ELSE (greatest(CAST(coalesce(t.c123, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * CAST(h.n1p12 AS DOUBLE) * p2)
        |              / CAST(h.c12tot AS DOUBLE) END AS p3
        |  FROM tgv s
        |  LEFT JOIN ptrip t ON t.g3 = s.g3
        |  LEFT JOIN hist h ON h.h12 = s.h12
        |  LEFT JOIN cont c ON c.h23 = s.h23
        |  LEFT JOIN mid md ON md.w2 = s.w2
        |  LEFT JOIN uni u ON u.w3 = s.w3, nv),
        |lp AS (SELECT g3, CAST(round(ln(p3) * 1000000.0) AS BIGINT) AS lp
        |       FROM m)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT)
        |    / 1000000.0 AS avg_logprob
        |FROM tg JOIN lp USING (g3)
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      ops.Selection.knScore(
        ops.Selection.knTrain(docs, "text", minCount = 2),
        docs, "text", "doc_id")
    },

    // CCNet per-language perplexity TERCILES (r17 verdict item 3 — the
    // real Wenzek 2020 step one rung past q_kn_curate's global budget):
    // predict each doc's language with the trained NB classifier, train
    // ONE independent KN trigram LM per predicted language
    // (knTrain groupCols), self-score every doc under its own language's
    // model, and cut each language's population into head/middle/tail
    // perplexity terciles with the histogram split — no global sort, no
    // per-language corpus-sized window. The oracle replays the ENTIRE
    // trajectory: the character-identical langidNbCtes argmax, the
    // lang-keyed KN model and scores, and ntile(3) over
    // (lang, score DESC, doc_id) — whose sizes pplTerciles reproduces
    // from driver-side bucket counts.
    q("q_ccnet_buckets",
      s"""WITH RECURSIVE $ccnetCtes
        |SELECT doc_id, lang_pred, avg_logprob, ppl_bucket FROM cbck""".stripMargin) { (s, d) =>
      ccnetBucketed(s, d)
        .select(col("doc_id"), col("lang_pred"), col("avg_logprob"),
          col("ppl_bucket"))
    },

    // The CCNet curation ACTION (r18 verdict item 6 — the one Wenzek 2020
    // step q_ccnet_buckets left unimplemented): head kept outright,
    // middle SAMPLED at a per-language rate, tail dropped. The coin is
    // fnv64(doc_id as decimal string) mod 64 — deterministic, seed-free,
    // engine-agnostic (power-of-two modulus: signed pmod and unsigned
    // HUGEINT % agree on the low 6 bits, the DSIR argument) — so the
    // oracle restates the ENTIRE trajectory (langid argmax → per-language
    // KN → terciles) plus the hash-coin filter, and the hash gate proves
    // the exact kept row set, not a size. Rates exercise the full spread:
    // en 32/64, zh 48/64, es 16/64, plus the defaultKeep64=8 path for
    // every other language (de, fr).
    q("q_ccnet_sample",
      s"""WITH RECURSIVE $ccnetCtes,
        |${fnvFoldCtes("cn", "cbck", "doc_id", "CAST(doc_id AS VARCHAR)")},
        |coin AS (SELECT k AS doc_id, CAST(ch % 64 AS BIGINT) AS c FROM cn)
        |SELECT b.doc_id, b.lang_pred, b.avg_logprob, b.ppl_bucket
        |FROM cbck b JOIN coin USING (doc_id)
        |WHERE b.ppl_bucket = 'head'
        |   OR (b.ppl_bucket = 'middle' AND c <
        |       CASE b.lang_pred WHEN 'en' THEN 32 WHEN 'zh' THEN 48
        |            WHEN 'es' THEN 16 ELSE 8 END)""".stripMargin) { (s, d) =>
      ops.Selection.ccnetSample(
        ccnetBucketed(s, d)
          .select(col("doc_id"), col("lang_pred"), col("avg_logprob"),
            col("ppl_bucket")),
        "lang_pred", "doc_id",
        keep64 = Map("en" -> 32, "zh" -> 48, "es" -> 16),
        defaultKeep64 = 8)
    },


    // DSIR importance log-weights (Xie et al. 2023): hashed-bigram feature
    // distributions, target = non-English docs (the multilingual-upsampling
    // selection, matching q_domain_mix's narrative), raw = whole corpus,
    // add-1 smoothing over 256 buckets. 256 is a power of two so Spark's
    // signed-LONG fnv64 and the oracle's unsigned HUGEINT agree under mod
    // without the sign shim q_split_by_hash needs for mod 100. The oracle
    // re-derives the bucket of every DISTINCT bigram via the recursive FNV
    // fold, then replays counts, smoothing, and the exact scaled-LONG sum.
    q("q_dsir_weights",
      s"""WITH RECURSIVE tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, lang <> 'en' AS in_t, tk[s+1] || ' ' || tk[s+2] AS bg
        |  FROM (SELECT * FROM tk WHERE len(tk) >= 2), unnest(range(0, len(tk)-1)) u(s)),
        |bgv AS (SELECT DISTINCT bg FROM big),
        |${fnvFoldCtes("bfold", "bgv", "bg", "bg")},
        |bmap AS (SELECT k AS bg, CAST(ch % 256 AS BIGINT) AS b FROM bfold),
        |f AS (SELECT doc_id, in_t, b FROM big JOIN bmap USING (bg)),
        |rc AS (SELECT b, count(*) AS cr FROM f GROUP BY b),
        |tc AS (SELECT b, count(*) AS ct FROM f WHERE in_t GROUP BY b),
        |tot AS (SELECT (SELECT sum(cr) FROM rc) AS r,
        |               (SELECT coalesce(sum(ct), 0) FROM tc) AS t),
        |lr AS (
        |  SELECT rc.b,
        |    CAST(round((ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE) / CAST(t + 256 AS DOUBLE))
        |              - ln(CAST(rc.cr + 1 AS DOUBLE) / CAST(r + 256 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS lr
        |  FROM rc LEFT JOIN tc ON tc.b = rc.b, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
        |  round(CAST(sum(lr) AS DOUBLE) / 1000000.0, 6) AS log_weight
        |FROM f JOIN lr USING (b)
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      ops.Selection.dsirLogWeights(Tables.documents(s, d), "text", "doc_id",
        targetPred = col("lang") =!= "en", buckets = 256)
    },

    // Effective sample size of the DSIR importance weights, per source
    // (Selection.effectiveSampleSize): ESS = (sum w)^2 / sum w^2 with
    // w = exp(log_weight) quantized to micro-LONGs immediately, both sums
    // exact DECIMAL38 integers (scale factors cancel), one divide at the
    // end. The "did reweighting leave us any data" gate.
    q("q_ess",
      s"""WITH RECURSIVE tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, lang <> 'en' AS in_t, tk[s+1] || ' ' || tk[s+2] AS bg
        |  FROM (SELECT * FROM tk WHERE len(tk) >= 2), unnest(range(0, len(tk)-1)) u(s)),
        |bgv AS (SELECT DISTINCT bg FROM big),
        |${fnvFoldCtes("bfold", "bgv", "bg", "bg")},
        |bmap AS (SELECT k AS bg, CAST(ch % 256 AS BIGINT) AS b FROM bfold),
        |f AS (SELECT doc_id, in_t, b FROM big JOIN bmap USING (bg)),
        |rc AS (SELECT b, count(*) AS cr FROM f GROUP BY b),
        |tc AS (SELECT b, count(*) AS ct FROM f WHERE in_t GROUP BY b),
        |tot AS (SELECT (SELECT sum(cr) FROM rc) AS r,
        |               (SELECT coalesce(sum(ct), 0) FROM tc) AS t),
        |lr AS (
        |  SELECT rc.b,
        |    CAST(round((ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE) / CAST(t + 256 AS DOUBLE))
        |              - ln(CAST(rc.cr + 1 AS DOUBLE) / CAST(r + 256 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS lr
        |  FROM rc LEFT JOIN tc ON tc.b = rc.b, tot),
        |dw AS (
        |  SELECT doc_id,
        |    round(CAST(sum(lr) AS DOUBLE) / 1000000.0, 6) AS log_weight
        |  FROM f JOIN lr USING (b)
        |  GROUP BY doc_id),
        |jw AS (
        |  SELECT d.source AS g,
        |    CAST(round(exp(dw.log_weight) * 1e6) AS BIGINT) AS wm
        |  FROM dw JOIN documents d USING (doc_id)
        |  WHERE d.source IS NOT NULL),
        |a AS (
        |  SELECT g, count(*) AS n, sum(CAST(wm AS HUGEINT)) AS sw,
        |    sum(CAST(wm AS HUGEINT) * wm) AS sw2
        |  FROM jw GROUP BY g)
        |SELECT g AS source, CAST(n AS BIGINT) AS n,
        |  CASE WHEN sw2 = 0 THEN NULL
        |    ELSE round(CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 6)
        |  END AS ess,
        |  CASE WHEN sw2 = 0 THEN NULL
        |    ELSE round(CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
        |      / CAST(n AS DOUBLE), 6)
        |  END AS ess_ratio
        |FROM a""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val dw = ops.Selection.dsirLogWeights(docs, "text", "doc_id",
        targetPred = col("lang") =!= "en", buckets = 256)
      ops.Selection.effectiveSampleSize(
        dw.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "source", "log_weight")
    },

    // Token-budget assembly: keep the best documents — (score DESC,
    // doc_id) order, score = character length here — until a 12k-token
    // budget is exhausted. The oracle is the DEFINITION (one global window
    // cumsum); the Spark side is the scale-shaped histogram split (whole
    // buckets pass/fail wholesale via a ≤64-row driver cumulative; only
    // the single boundary bucket pays an exact prefix-sum window). The
    // hash compare proves the two select identical rows — ties, zero-token
    // docs, and the boundary doc included. Budget 12k lands mid-corpus at
    // every SF (total ws tokens ≈ 27k/27k/271k).
    q("q_token_budget",
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |             t -> t <> '')) AS BIGINT) AS n_tok,
        |    CAST(length(text) AS BIGINT) AS score
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, n_tok, score,
        |    sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum
        |  FROM s)
        |SELECT doc_id, n_tok, score FROM c WHERE cum <= 12000""".stripMargin) { (s, d) =>
      val proj = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tok"),
          length(col("text")).cast("long").as("score"))
      ops.Selection.selectToTokenBudget(proj, "doc_id", "n_tok", "score",
        budget = 12000L, buckets = 64)
    },

    // Mixture assembly: per-domain token budgets (en 5000 / de 2000 /
    // zh 2500; es+fr absent from the spec → dropped). Every budget binds
    // at every SF (per-lang totals ≈ 11.8k/3.5k/4.1k at sf0.01, 10× at
    // sf0.1). The oracle is the per-group definition window; the Spark
    // side proves the grouped histogram split + single group-partitioned
    // boundary window selects identical rows.
    q("q_mixture_budget",
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |             t -> t <> '')) AS BIGINT) AS n_tok,
        |    CAST(length(text) AS BIGINT) AS score
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, lang, n_tok, score,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS cum,
        |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
        |              WHEN 'zh' THEN 2500 END AS bud
        |  FROM s)
        |SELECT doc_id, lang, n_tok, score
        |FROM c WHERE bud IS NOT NULL AND cum <= bud""".stripMargin) { (s, d) =>
      val proj = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tok"),
          length(col("text")).cast("long").as("score"))
      ops.Selection.selectToTokenBudgetByGroup(proj, "lang", "doc_id",
        "n_tok", "score",
        budgets = Map("en" -> 5000L, "de" -> 2000L, "zh" -> 2500L),
        buckets = 64)
    },

    // Epoch materialization: mixture weights → an actual repeated corpus.
    // en×1.2 (1 copy + a deterministic 20 % get a 2nd), de×2.5, zh×0.4
    // (pure subsample), es×0.0 (all dropped), fr absent (dropped). The
    // hash coin is pmod(fnv64(doc_id-as-string), 10⁶) — the oracle
    // re-derives it via the recursive FNV fold with the q_split_by_hash
    // sign shim (10⁶ is not a power of two), so copy COUNTS and epoch
    // indices hash-compare exactly.
    // Exactly-balanced stratified k-fold (Mixing.stratifiedKFold): per
    // stratum every fold's size differs by at most one (hash-mod splits
    // are only binomially balanced); fold = (global hash-rank within
    // stratum - 1) mod k, computed WITHOUT stratum-sized windows -- ranks
    // are (stratum, bucket)-bounded windows plus a cumulative offset over
    // the tiny (stratum x 1024-bucket) count grain.
    q("q_kfold",
      s"""WITH RECURSIVE docs0 AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
        |${fnvFoldCtes("kf", "docs0", "doc_id", "CAST(doc_id AS VARCHAR)")},
        |hh AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
        |         THEN ch - 18446744073709551616::HUGEINT ELSE ch END AS BIGINT)
        |      AS hs
        |  FROM docs0 d JOIN kf ON kf.k = d.doc_id),
        |hb AS (SELECT doc_id, lang, hs,
        |         ((hs % 1024) + 1024) % 1024 AS b FROM hh),
        |counts AS (SELECT lang, b, count(*) AS c FROM hb GROUP BY 1, 2),
        |offs AS (
        |  SELECT lang, b, coalesce(sum(c) OVER (PARTITION BY lang ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
        |  FROM counts),
        |rk AS (
        |  SELECT doc_id, lang, b, hs,
        |    row_number() OVER (PARTITION BY lang, b ORDER BY hs, doc_id) AS rn
        |  FROM hb)
        |SELECT rk.doc_id, rk.lang, CAST((o + rn - 1) % 5 AS INT) AS fold
        |FROM rk JOIN offs ON offs.lang = rk.lang AND offs.b = rk.b""".stripMargin) { (s, d) =>
      ops.Mixing.stratifiedKFold(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", "lang", k = 5)
    },

    q("q_epoch_mix",
      s"""WITH RECURSIVE docs0 AS (
        |  SELECT doc_id, lang FROM documents WHERE text IS NOT NULL),
        |${fnvFoldCtes("efold", "docs0", "doc_id", "CAST(doc_id AS VARCHAR)")},
        |asn AS (
        |  SELECT d.doc_id, d.lang,
        |    ((CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
        |            THEN ch - 18446744073709551616::HUGEINT ELSE ch END AS BIGINT)
        |      % 1000000) + 1000000) % 1000000 AS coin
        |  FROM docs0 d JOIN efold ON efold.k = d.doc_id),
        |cp AS (
        |  SELECT doc_id, lang,
        |    CASE lang
        |      WHEN 'en' THEN 1 + CASE WHEN coin < 200000 THEN 1 ELSE 0 END
        |      WHEN 'de' THEN 2 + CASE WHEN coin < 500000 THEN 1 ELSE 0 END
        |      WHEN 'zh' THEN 0 + CASE WHEN coin < 400000 THEN 1 ELSE 0 END
        |      WHEN 'es' THEN 0 END AS copies
        |  FROM asn)
        |SELECT doc_id, lang, CAST(unnest(range(1, copies + 1)) AS INT) AS epoch
        |FROM cp WHERE copies >= 1""".stripMargin) { (s, d) =>
      ops.Mixing.materializeEpochs(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select("doc_id", "lang"),
        "lang", "doc_id",
        epochs = Map("en" -> 1.2, "de" -> 2.5, "zh" -> 0.4, "es" -> 0.0))
    },

    // Weighted sample without replacement (Efraimidis–Spirakis, weight =
    // doc length): rank by round(ln(u)/w·10⁶) micro-keys, u from the FNV
    // fold's low 53 bits (power-of-two mod — no sign shim, the DSIR-256
    // argument), top-40 by (key DESC, id).
    q("q_weighted_sample",
      s"""WITH RECURSIVE docs0 AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |${fnvFoldCtes("wfold", "docs0", "doc_id", "'w0:' || CAST(doc_id AS VARCHAR)")},
        |ky AS (
        |  SELECT d.doc_id,
        |    CAST(round(ln((CAST(ch % 9007199254740992 AS DOUBLE) + 0.5)
        |        / 9007199254740992.0)
        |      / greatest(d.w, 0.000000001) * 1000000.0) AS BIGINT) AS km
        |  FROM docs0 d JOIN wfold ON wfold.k = d.doc_id)
        |SELECT doc_id, rn FROM (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY km DESC, doc_id) AS INT) AS rn
        |  FROM ky) WHERE rn <= 40""".stripMargin) { (s, d) =>
      ops.Mixing.weightedSampleK(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), length(col("text")).cast("double").as("w")),
        "doc_id", "w", k = 40)
    },

    // Deterministic EXACT-k sample per group (eval carving / per-domain
    // caps): rows rank by fnv64("s0:" + doc_id), top 40 per lang. The
    // oracle replays the hash via the recursive FNV fold + sign shim and
    // ranks by the same DOUBLE image with the same doc_id tiebreak.
    q("q_sample_per_group",
      s"""WITH RECURSIVE docs0 AS (
        |  SELECT doc_id, lang FROM documents),
        |${fnvFoldCtes("sfold", "docs0", "doc_id", "'s0:' || CAST(doc_id AS VARCHAR)")},
        |sh AS (
        |  SELECT k AS doc_id,
        |    CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
        |         THEN ch - 18446744073709551616::HUGEINT ELSE ch END AS BIGINT) AS h
        |  FROM sfold),
        |r AS (
        |  SELECT d.lang, d.doc_id,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY CAST(s.h AS DOUBLE) ASC, d.doc_id) AS rn
        |  FROM docs0 d JOIN sh s ON s.doc_id = d.doc_id)
        |SELECT lang, doc_id, CAST(rn AS INT) AS rn FROM r WHERE rn <= 40""".stripMargin) { (s, d) =>
      ops.Mixing.sampleKPerGroup(
        Tables.documents(s, d).select("lang", "doc_id"),
        "lang", "doc_id", k = 40)
    },

    // Deterministic global training-order shuffle: 8 shards (power of two
    // — the unsigned-HUGEINT and signed-LONG mod agree on low bits, the
    // DSIR-256 argument), in-shard order by (shimmed hash, doc_id).
    q("q_shuffle_shards",
      s"""WITH RECURSIVE docs0 AS (
        |  SELECT doc_id FROM documents),
        |${fnvFoldCtes("hfold", "docs0", "doc_id", "'t0:' || CAST(doc_id AS VARCHAR)")},
        |sh AS (
        |  SELECT k AS doc_id,
        |    CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
        |         THEN ch - 18446744073709551616::HUGEINT ELSE ch END AS BIGINT) AS h,
        |    CAST(ch % 8 AS INT) AS shard
        |  FROM hfold)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
        |FROM sh""".stripMargin) { (s, d) =>
      ops.Mixing.shuffleDeterministic(
        Tables.documents(s, d).select("doc_id"), "doc_id", nShards = 8)
        .select("doc_id", "shard", "pos")
    },

    // PII scrubbing (C4-style curation stage). The corpus contains no
    // PII-shaped content (verified: zero rows match [0-9@]), so both
    // engines INJECT identical synthetic PII derived from doc_id into
    // every 5th doc, then scrub — a real test of Java-regex (Spark) vs
    // RE2 (DuckDB) dialect equivalence on the shared patterns, which are
    // restricted to syntax with identical semantics in both.
    q("q_pii_scrub",
      """WITH inj AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |      text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.org ip 10.2.'
        |        || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR)
        |        || ' call +14155550' || CAST(doc_id % 100 AS VARCHAR)
        |      ELSE text END AS t
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(t, '\+[0-9]{7,15}')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+[0-9]{7,15}', '<PHONE>', 'g') AS text_scrubbed
        |FROM inj""".stripMargin) { (s, d) =>
      val injected = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" contact u"), col("doc_id"),
              lit("@ex.org ip 10.2."), col("doc_id") % 256, lit("."),
              col("doc_id") % 250, lit(" call +14155550"), col("doc_id") % 100))
            .otherwise(col("text")))
      TextAnalysis.piiScrub(injected, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("text_scrubbed"))
    },

    // HTML→text extraction (the stage C4-style curation runs FIRST). The
    // corpus has no markup, so both engines wrap every 3rd doc in an
    // identical doc_id-derived HTML shell — tags, a script block whose
    // contents must vanish (including a bare `<` that merges into one
    // tag-shaped raw token, same leftmost-greedy match in both dialects),
    // a style block, and all five core entities (with &amp;-last decode
    // order observable via the '&amp; Q' → '& Q' vs '&lt;tag&gt;' →
    // literal '<tag>' distinction). Patterns restricted to the
    // Java-regex/RE2 common subset (no backreferences — script and style
    // each get their own block pattern).
    q("q_strip_markup",
      """WITH inj AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      '<html><body class="c' || CAST(doc_id AS VARCHAR)
        |        || '"><h1>T &amp; Q</h1><script type="text/javascript">var x = 1 < 2;</script><p>'
        |        || text || ' &lt;tag&gt; &quot;q&#39;</p><style>.s{color:red}</style></body></html>'
        |    ELSE text END AS t
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '<[^>]+>')) AS INT) AS n_tags,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(t,
        |        '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text_plain
        |FROM inj""".stripMargin) { (s, d) =>
      val injected = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(lit("<html><body class=\"c"), col("doc_id"),
              lit("\"><h1>T &amp; Q</h1><script type=\"text/javascript\">var x = 1 < 2;</script><p>"),
              col("text"),
              lit(" &lt;tag&gt; &quot;q&#39;</p><style>.s{color:red}</style></body></html>")))
            .otherwise(col("text")))
      TextAnalysis.stripMarkup(injected, "text")
        .select(col("doc_id"), col("n_tags"), col("text_plain"))
    },

    // Temperature-flattened domain mixing (multinomial α-sampling): target
    // share ∝ n_d^0.5 upsamples low-resource languages relative to the
    // en-heavy natural distribution (en's fraction ≈ 0.28 vs ≈ 0.48 for
    // the tail here). Same validation-aggregate pattern as
    // q_stratified_sample: per-domain totals hash-compared, the seeded
    // sample's per-domain counts measured against 6σ binomial bounds of
    // the temperature fractions. Fraction determinism: domains fold in
    // sorted order on the driver (see Mixing.temperatureFractions).
    // Deterministic content-hash train/val/test split (80/10/10 of the
    // fnv64(text) bucket space): reproducible across reruns/engines/
    // repartitions and leak-proof — byte-identical duplicates land in the
    // same split by construction. The oracle re-derives fnv64 from UTF-8
    // bytes in SQL and re-buckets with the same signed pmod, so the
    // per-split doc/text counts hash-compare exactly. The FNV fold is a
    // recursive CTE over 8-byte chunks with the 8 steps unrolled as
    // lateral column aliases — deliberately NOT list_reduce, which DuckDB
    // 1.0.0 mis-evaluates on some multi-row batch shapes (observed in the
    // r4 q_funnel investigation). NULL text maps to a NULL split on both
    // sides (Mixing.splitByHash yields NULL for null keys).
    q("q_split_by_hash",
      s"""WITH RECURSIVE docs0 AS (SELECT doc_id, text FROM documents),
        |${fnvFoldCtes("sfold", "docs0", "doc_id", "text")},
        |asn AS (
        |  SELECT d.doc_id, d.text,
        |    CASE WHEN d.text IS NULL THEN NULL ELSE
        |      ((CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
        |              THEN ch - 18446744073709551616::HUGEINT ELSE ch END AS BIGINT)
        |        % 100) + 100) % 100 END AS bucket
        |  FROM docs0 d JOIN sfold ON sfold.k = d.doc_id)
        |SELECT CASE WHEN bucket IS NULL THEN NULL
        |            WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, count(DISTINCT text) AS n_texts
        |FROM asn GROUP BY 1""".stripMargin) { (s, d) =>
      graft.ops.Mixing.splitByHash(Tables.documents(s, d), "text",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("text")).as("n_texts"))
    },

    q("q_domain_mix",
      """SELECT lang, count(*) AS n_total, CAST(1 AS BOOLEAN) AS in_bounds
        |FROM documents WHERE lang IS NOT NULL
        |GROUP BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("lang").isNotNull)
      val fracs = indexArtifact(s"mix-fracs:$d") {
        // byShare derives the 40% target from the same collected histogram
        // — one driver job, not a separate count() scan
        ops.Mixing.temperatureFractionsByShare[String](
          docs, "lang", alpha = 0.5, share = 0.4)
      }
      val f = element_at(typedLit(fracs), col("lang"))
      val sampled = docs.stat.sampleBy("lang", fracs, 42L)
        .groupBy("lang").agg(count(lit(1)).as("_ns"))
      docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          (abs(coalesce(col("_ns"), lit(0L)) - col("n_total") * f) <=
            lit(6.0) * sqrt(col("n_total") * f * (lit(1.0) - f))).as("in_bounds"))
    },

    // Sequence packing (context-window bin packing) — validation-aggregate
    // oracle: the bin assignment depends on Spark's hash partitioning (not
    // reproducible in SQL), but the packing CONTRACT is not — every
    // non-null doc packed exactly once (n_docs), token mass preserved
    // (total_tokens, SQL recomputes both), no bin over the 512 budget, and
    // the bin count within [ceil(total/512), 2·ceil(total/512) + P]
    // (next-fit's bound with P partition tail bins). Spark MEASURES the
    // booleans; the SQL side states them. Exact layout is DedupKnnSpec's.
    q("q_pack_sequences",
      """WITH tok AS (
        |  SELECT doc_id, len(list_filter(
        |    string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n_tok
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(1 AS BOOLEAN) AS all_bins_within_budget,
        |  CAST(1 AS BOOLEAN) AS bin_count_in_bounds,
        |  CAST(1 AS BOOLEAN) AS none_oversized
        |FROM tok""".stripMargin) { (s, d) =>
      val budget = 512; val parts = 8
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val packed = ops.Packing.packNextFit(docs, "doc_id", "n_tok", budget, parts)
      packed.groupBy("bin_id")
        .agg(sum(col("n_tok")).as("_bt"), count(lit(1)).as("_n"),
          bool_or(col("oversized")).as("_over"))
        .agg(
          sum(col("_n")).as("n_docs"),
          sum(col("_bt")).cast("bigint").as("total_tokens"),
          bool_and(col("_bt") <= budget).as("all_bins_within_budget"),
          (count(lit(1)).between(
            ceil(sum(col("_bt")) / lit(budget.toDouble)),
            lit(2) * ceil(sum(col("_bt")) / lit(budget.toDouble)) + parts))
            .as("bin_count_in_bounds"),
          (!bool_or(col("_over"))).as("none_oversized"))
    },

    // Benchmark decontamination (train/eval n-gram overlap): docs ≥ 100
    // are "training", docs < 100 the "holdout"; any training doc sharing a
    // distinct 5-gram with the holdout is contaminated. The Spark plan
    // broadcasts the holdout's shingle hashes (the eval set is small by
    // construction) so the train side is never shuffled for the
    // membership test; the oracle recomputes the overlap join on shingle
    // STRINGS — agreement also re-certifies fnv64's collision-freeness
    // here, as in q_fingerprint.
    q("q_decontaminate",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 3),
        |    i -> array_to_string(toks[i:i+4], ' ')))) AS g
        |  FROM tok WHERE len(toks) >= 5)
        |SELECT tr.doc_id, count(DISTINCT tr.g) AS shared_ngrams
        |FROM sh tr JOIN sh te ON tr.g = te.g
        |WHERE tr.doc_id >= 100 AND te.doc_id < 100
        |GROUP BY tr.doc_id
        |HAVING count(DISTINCT tr.g) >= 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contamination(
        docs.filter(col("doc_id") >= 100),
        docs.filter(col("doc_id") < 100),
        "text", "doc_id", shingleN = 5, minShared = 1)
    },

    // FUZZY decontamination: Jaccard ≥ 0.8 against any holdout doc (same
    // train/holdout boundary as q_decontaminate). The oracle recomputes
    // EXACT train×holdout Jaccard over shared-shingle candidate pairs —
    // an exact prefilter (a zero-overlap pair has j = 0 < 0.8), not an
    // approximation; the brute-force all-pairs formulation gave DuckDB a
    // degenerate 27 s baseline to race. LSH misses at j ≥ 0.8 with 48
    // single-row bands are ≤ 0.2^48, so candidate generation is lossless
    // in practice and the verify stage makes Spark's output exactly the
    // definition. Division and round(·, 6) shapes mirrored verbatim.
    q("q_decontaminate_fuzzy",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS g
        |  FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(g) AS s FROM sh),
        |cand AS (
        |  SELECT DISTINCT tr.doc_id AS a, te.doc_id AS b
        |  FROM ex tr JOIN ex te ON tr.s = te.s
        |  WHERE tr.doc_id >= 100 AND te.doc_id < 100),
        |pj AS (
        |  SELECT c.a AS doc_id,
        |    len(list_intersect(ta.g, tb.g)) AS shared,
        |    len(ta.g) AS na, len(tb.g) AS nb
        |  FROM cand c JOIN sh ta ON ta.doc_id = c.a
        |  JOIN sh tb ON tb.doc_id = c.b),
        |jj AS (
        |  SELECT doc_id, shared / (na + nb - shared) AS j FROM pj
        |  WHERE na + nb > shared)
        |SELECT doc_id, count(*) AS n_holdout_hits,
        |  round(max(j), 6) AS max_jaccard
        |FROM jj WHERE j >= 0.8 GROUP BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contaminationFuzzy(
        docs.filter(col("doc_id") >= 100),
        docs.filter(col("doc_id") < 100),
        "text", "doc_id", threshold = 0.8, shingleN = 3)
    },

    // Corpus snapshot diff: v2 drops every 7th doc, edits every 11th,
    // adds a shifted copy of every 13th — the oracle replays the same
    // synthesis and compares normalized text where Spark compares content
    // hashes (the q_dedup_exact fnv64-collision re-certification).
    q("q_corpus_diff",
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 13 = 0),
        |k1 AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ') AS nk
        |  FROM documents),
        |k2 AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ') AS nk
        |  FROM v2)
        |SELECT coalesce(k1.doc_id, k2.doc_id) AS doc_id,
        |  CASE WHEN k1.doc_id IS NULL THEN 'added'
        |       WHEN k2.doc_id IS NULL THEN 'removed'
        |       WHEN k1.nk = k2.nk THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM k1 FULL JOIN k2 ON k1.doc_id = k2.doc_id""".stripMargin) { (s, d) =>
      val v1 = Tables.documents(s, d).select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      ops.CorpusStats.corpusDiff(v1, v2, "doc_id", "text")
    },

    // Quality-aware exact-dedup keeper: the LONGEST copy survives (tie →
    // smaller id) instead of the smallest id.
    q("q_dedup_keep_best",
      """WITH k AS (
        |  SELECT doc_id, length(text) AS sc, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ') AS nk
        |  FROM documents)
        |SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY nk ORDER BY sc DESC, doc_id) AS rn FROM k)
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      Dedup.exactDedupBy(Tables.documents(s, d), "text", "doc_id",
        length(col("text")))
        .select("doc_id")
    },

    // Bloom-filter decontamination (contract-aggregate oracle, the r4 ANN
    // pattern): the Bloom path must catch EVERY exactly-contaminated doc
    // (no false negatives), never under-count a doc's shared grams, and
    // over-flag at most a hair (fpp 1e-6 over ~4k test grams → extras
    // deterministically ≤ 10; Spark's bloom build is order-independent
    // bit-OR with fixed murmur3 seeds, so the flag set is stable across
    // runs and partitionings). DuckDB recomputes the exact overlap and
    // emits the contract constants; any violation breaks the row hash.
    q("q_decontaminate_bloom",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 3),
        |    i -> array_to_string(toks[i:i+4], ' ')))) AS g
        |  FROM tok WHERE len(toks) >= 5),
        |ex AS (
        |  SELECT tr.doc_id FROM sh tr JOIN sh te ON tr.g = te.g
        |  WHERE tr.doc_id >= 100 AND te.doc_id < 100
        |  GROUP BY tr.doc_id)
        |SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact_hits,
        |  CAST(0 AS BIGINT) AS n_leaked,
        |  CAST(0 AS BIGINT) AS n_undercount,
        |  true AS extras_bounded""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") >= 100)
      val test = docs.filter(col("doc_id") < 100)
      val exact = Dedup.contamination(train, test, "text", "doc_id",
        shingleN = 5, minShared = 1)
      val bloom = Dedup.contaminationBloom(train, test, "text", "doc_id",
        shingleN = 5, minShared = 1)
      val checks = exact.join(bloom, Seq("doc_id"), "left_outer")
        .agg(count(lit(1)).as("n_exact_hits"),
          sum(when(col("n_gram_hits").isNull, 1).otherwise(0))
            .cast("bigint").as("n_leaked"),
          sum(when(col("n_gram_hits") < col("shared_ngrams"), 1).otherwise(0))
            .cast("bigint").as("n_undercount"))
      checks.crossJoin(bloom.agg(count(lit(1)).as("_nb")))
        .select(col("n_exact_hits"), col("n_leaked"), col("n_undercount"),
          (col("_nb") - col("n_exact_hits") <= 10).as("extras_bounded"))
    },

    // CCNet-style SEGMENT dedup with reassembly: disjoint 8-token windows,
    // first corpus-wide occurrence of each distinct segment survives,
    // documents reassemble from their surviving segments in order (fully
    // duplicated docs vanish). The oracle replays the identical
    // segmentation (the q_chunk_passages range idiom), picks keepers by
    // the same packed (doc<<20|idx) key, and reassembles with an ordered
    // string_agg.
    q("q_segment_dedup",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, tk, unnest(range(0, greatest(len(tk) - 1, 0) + 1, 8)) AS s
        |  FROM toks),
        |seg AS MATERIALIZED (
        |  SELECT doc_id, CAST(s // 8 AS INT) AS seg_idx,
        |    array_to_string(list_slice(tk, s + 1, s + 8), ' ') AS ptext
        |  FROM st WHERE len(tk) - s > 0),
        |firsts AS (
        |  SELECT ptext, min(doc_id * 1048576 + seg_idx) AS keep
        |  FROM seg GROUP BY ptext),
        |kept AS (
        |  SELECT seg.doc_id, seg.seg_idx, seg.ptext FROM seg
        |  JOIN firsts ON seg.ptext = firsts.ptext
        |    AND seg.doc_id * 1048576 + seg.seg_idx = firsts.keep),
        |tot AS (SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY doc_id)
        |SELECT k.doc_id,
        |  string_agg(k.ptext, ' ' ORDER BY k.seg_idx) AS clean_text,
        |  count(*) AS n_kept,
        |  any_value(t.n_segments) AS n_segments
        |FROM kept k JOIN tot t ON k.doc_id = t.doc_id
        |GROUP BY k.doc_id""".stripMargin) { (s, d) =>
      Dedup.dedupSegments(Tables.documents(s, d), "text", "doc_id",
        segTokens = 8)
    },

    // Gopher/MassiveText repetition rules: duplicate-word fraction + the
    // most-frequent-bigram share. Spark computes the bigram mode with the
    // codegen'd top_ngram_run kernel — one JVM pass over each row's OWN
    // tokens (no shuffle — the groupBy(doc, bigram) shape would shuffle
    // every token at 100 TB); the oracle recomputes it with the
    // straightforward unnest + GROUP BY.
    q("q_repetition",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    round(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 6) AS dup_word_frac,
        |    toks FROM tok WHERE len(toks) >= 2),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        |  FROM base),
        |top AS (
        |  SELECT doc_id, max(c) AS top_c FROM (
        |    SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens, b.dup_word_frac,
        |  round(top_c * 1.0 / (b.n_tokens - 1), 6) AS top_bigram_frac,
        |  ((b.n_tokens >= 12 AND round(top_c * 1.0 / (b.n_tokens - 1), 6) > 0.18)
        |    OR b.dup_word_frac > 0.9) AS repetitive
        |FROM base b JOIN top USING (doc_id)""".stripMargin) { (s, d) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, d), "text", "doc_id")
    }) ++ Seq(

    // no-oracle entries (nondeterministic or non-SQL-expressible → driver
    // records rows-only checks; correctness covered by ScalaTest instead)

    // Oracle-checked since round 3 via the validation-aggregate pattern: the
    // uuid values themselves are nondeterministic, but the enrichment
    // CONTRACT is not — row preservation, per-row uniqueness, and RFC-4122
    // v4 shape. The Spark side measures those properties; the oracle states
    // them. Any broken property flips a value and fails the hash compare.
    q("q_uuid_enrich",
      """SELECT count(*) AS n_rows, count(*) AS n_distinct_ids,
        |  count(*) AS n_v4_shaped
        |FROM documents""".stripMargin) { (s, d) =>
      graft.pipeline.RagPipeline.enrich(
          Tables.documents(s, d)
            .select(col("text"), lit("2024-01-01T00:00:00.000Z").as("created_at"),
              lit(null).cast("string").as("_corrupt_record")))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("_id")).as("n_distinct_ids"),
          count(when(col("_id").rlike(
            "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"),
            1)).as("n_v4_shaped"))
    },

    // Oracle-checked since round 3: the oracle is the EXACT answer (star
    // pairs of identical normalized content ∪ rep-level 3-gram Jaccard ≥
    // 0.5), which banded MinHash only samples — but at 48 hashes / 24 bands
    // (2 rows per band) the per-pair miss probability is (1 − j²)^24:
    // ≤ 2·10⁻¹¹ at j = 0.8, and this corpus's true pairs are all ≥ 0.8
    // with the nearest non-pair at ≤ 0.14 (no pair sits in the risky
    // band), so LSH output ≡ exact output with overwhelming margin.
    // Verification stays exact-Jaccard, so false positives cost nothing.
    q("q_minhash_neardup",
      """WITH keyed AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ') AS norm
        |  FROM documents),
        |grp AS (SELECT norm, min(doc_id) AS rep FROM keyed GROUP BY norm),
        |star AS (
        |  SELECT g.rep AS id_a, k.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
        |  FROM keyed k JOIN grp g ON k.norm = g.norm WHERE k.doc_id <> g.rep),
        |tok AS (SELECT rep AS doc_id, string_split(norm, ' ') AS toks FROM grp),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        |  FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near AS (
        |  SELECT id_a, id_b, shared / (sa.n + sb.n - shared) AS j
        |  FROM inter
        |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, round(j, 6) AS jaccard FROM near WHERE j >= 0.5
        |UNION ALL SELECT id_a, id_b, jaccard FROM star""".stripMargin) { (s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), "text", "doc_id",
          threshold = 0.5, shingleN = 3, numHashes = 48, bands = 24)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // Oracle-checked since round 3: the DuckDB side recomputes fnv64 (FNV-1a
    // over UTF-8 bytes, via hex()+HUGEINT modular arithmetic), the Charikar
    // simhash bit votes, the 16-bit chunk blocking, and the Hamming verify —
    // the full operator semantics, independently, in SQL. Chunk buckets
    // can't saturate here (bucket ≤ #reps ≤ 2000 < maxBucket 4096), so the
    // blocked pair set is deterministic. The 64 per-bit vote columns are
    // GENERATED (signed-BIGINT shift/mask sums in one aggregation pass) —
    // the naive unnest(range(64)) formulation explodes occurrences × 64 and
    // ran 28× slower in DuckDB, which would have inflated the baseline this
    // engine is raced against.
    q("q_simhash_neardup",
      s"""WITH RECURSIVE keyed AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''), ' ') AS norm
        |  FROM documents),
        |grp AS (SELECT norm, min(doc_id) AS rep FROM keyed GROUP BY norm),
        |star AS (
        |  SELECT g.rep AS id_a, k.doc_id AS id_b, 0 AS hamming
        |  FROM keyed k JOIN grp g ON k.norm = g.norm WHERE k.doc_id <> g.rep),
        |tok AS (SELECT rep AS doc_id, string_split(norm, ' ') AS toks
        |        FROM grp WHERE norm <> ''),
        |occur AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |occ AS (SELECT doc_id, w, count(*)::BIGINT AS cnt FROM occur GROUP BY doc_id, w),
        |vocab AS (SELECT DISTINCT w FROM occ),
        |${fnvFoldCtes("wfold", "vocab", "w", "w")},
        |wh AS (SELECT k AS w, ch AS h FROM wfold),
        |whs AS (
        |  SELECT w, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS hs
        |  FROM wh),
        |votes AS (
        |  SELECT o.doc_id, sum(o.cnt)::BIGINT AS n,
        |$simhashVoteCols
        |  FROM occ o JOIN whs ON whs.w = o.w
        |  GROUP BY o.doc_id),
        |sim AS MATERIALIZED (
        |  SELECT doc_id,
        |   ($simhashSimTerms) AS sh
        |  FROM votes),
        |chunks0 AS MATERIALIZED (
        |  SELECT doc_id, sh,
        |    (sh >> 0) & 255 AS c0,  (sh >> 8) & 255 AS c1,
        |    (sh >> 16) & 255 AS c2, (sh >> 24) & 255 AS c3,
        |    (sh >> 32) & 255 AS c4, (sh >> 40) & 255 AS c5,
        |    (sh >> 48) & 255 AS c6, (sh >> 56) & 255 AS c7
        |  FROM sim),
        |sat0 AS (SELECT c0 AS v FROM chunks0 GROUP BY c0 HAVING count(*) > 4096),
        |sat1 AS (SELECT c1 AS v FROM chunks0 GROUP BY c1 HAVING count(*) > 4096),
        |sat2 AS (SELECT c2 AS v FROM chunks0 GROUP BY c2 HAVING count(*) > 4096),
        |sat3 AS (SELECT c3 AS v FROM chunks0 GROUP BY c3 HAVING count(*) > 4096),
        |sat4 AS (SELECT c4 AS v FROM chunks0 GROUP BY c4 HAVING count(*) > 4096),
        |sat5 AS (SELECT c5 AS v FROM chunks0 GROUP BY c5 HAVING count(*) > 4096),
        |sat6 AS (SELECT c6 AS v FROM chunks0 GROUP BY c6 HAVING count(*) > 4096),
        |sat7 AS (SELECT c7 AS v FROM chunks0 GROUP BY c7 HAVING count(*) > 4096),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id, sh,
        |    CASE WHEN c0 IN (SELECT v FROM sat0) THEN NULL ELSE c0 END AS c0,
        |    CASE WHEN c1 IN (SELECT v FROM sat1) THEN NULL ELSE c1 END AS c1,
        |    CASE WHEN c2 IN (SELECT v FROM sat2) THEN NULL ELSE c2 END AS c2,
        |    CASE WHEN c3 IN (SELECT v FROM sat3) THEN NULL ELSE c3 END AS c3,
        |    CASE WHEN c4 IN (SELECT v FROM sat4) THEN NULL ELSE c4 END AS c4,
        |    CASE WHEN c5 IN (SELECT v FROM sat5) THEN NULL ELSE c5 END AS c5,
        |    CASE WHEN c6 IN (SELECT v FROM sat6) THEN NULL ELSE c6 END AS c6,
        |    CASE WHEN c7 IN (SELECT v FROM sat7) THEN NULL ELSE c7 END AS c7
        |  FROM chunks0),
        |near AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |  FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id
        |   AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3
        |     OR a.c4 = b.c4 OR a.c5 = b.c5 OR a.c6 = b.c6 OR a.c7 = b.c7))
        |SELECT id_a, id_b, hamming FROM near WHERE hamming <= 10
        |UNION ALL SELECT id_a, id_b, hamming FROM star""".stripMargin) { (s, d) =>
      // maxHamming 10 > 3 selects the operator's 8×8-bit chunk blocking
      // (recall exact through Hamming 7, candidate-recall trade past it).
      // The oracle mirrors the blocking EXACTLY, including the
      // maxBucket=4096 saturated-bucket skip: a chunk value whose bucket
      // saturates is NULLed before the pairing join (NULL never equals),
      // identical semantics to the operator's skipped buckets — without
      // this a skewed corpus would drop pairs on the Spark side only.
      Dedup.simhashNearDups(Tables.documents(s, d), "text", "doc_id", maxHamming = 10)
    },

    // The round-5 curation composite: span-level dedup feeding selection —
    // substring span-cut → exact dedup on the CLEANED text → length gate →
    // unigram-LM scoring → keep the top 60% by a percentile threshold
    // (broadcast scalar, not a global sort — the selection shape that
    // survives 100 TB). Every stage is individually oracled elsewhere
    // (q_cut_spans, q_dedup_exact, q_unigram_logprob, q_percentile); this
    // verifies their COMPOSITION — e.g. docs fully consumed by span-cuts
    // collapse to one empty representative and then fail the gate, and the
    // LM vocabulary is built over survivors only. MATERIALIZED hints keep
    // DuckDB from re-deriving shared stages (the q_corpus_curate fairness
    // note).
    // 2-D Pareto frontier (Selection.paretoFront): orders not strictly
    // dominated under (earliest o_orderdate, highest o_totalprice). Spark
    // runs the O(n log n) collapsed-grain running-max shape; the oracle
    // states the DEFINITION — brute quadratic dominance — on the per-day
    // max table, where it is affordable (distinct days, not orders), so
    // the two formulations are genuinely independent.
    q("q_pareto",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day, o_totalprice
        |  FROM orders),
        |d AS (SELECT day, max(o_totalprice) AS ymax FROM o GROUP BY day),
        |f AS (
        |  SELECT day, ymax FROM d a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM d b WHERE b.day < a.day AND b.ymax >= a.ymax))
        |SELECT o.o_orderkey, o.day, o.o_totalprice
        |FROM o JOIN f ON o.day = f.day AND o.o_totalprice = f.ymax""".stripMargin) { (s, d) =>
      ops.Selection.paretoFront(
        Tables.orders(s, d).select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("day"), col("o_totalprice")),
        "day", "o_totalprice")
        .select(col("o_orderkey"), col("day"), col("o_totalprice"))
    },

    q("q_curate_select",
      """WITH tk0 AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |tkS AS (SELECT doc_id, tk FROM tk0 WHERE len(tk) >= 8),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, s, array_to_string(list_slice(tk, s+1, s+8), ' ') AS g
        |  FROM tkS, unnest(range(0, len(tk)-8+1)) u(s)),
        |hc AS (SELECT g, count(*) AS n FROM sh GROUP BY g),
        |shf AS MATERIALIZED (
        |  SELECT sh.doc_id, sh.s, sh.g FROM sh JOIN hc USING(g)
        |  WHERE hc.n BETWEEN 2 AND 256),
        |m AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, a.s AS sa, b.s AS sb
        |  FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT a, b, sa, sb, sa - sb AS diag,
        |    sa - row_number() OVER (PARTITION BY a, b, sa - sb ORDER BY sa) AS grp
        |  FROM m),
        |sp AS (
        |  SELECT b AS doc_b, min(sb) AS b_start, count(*) + 7 AS span_tokens
        |  FROM r GROUP BY a, b, diag, grp),
        |cpos AS (
        |  SELECT doc_b AS doc_id, unnest(range(b_start, b_start + span_tokens)) AS p
        |  FROM sp WHERE span_tokens >= 12),
        |cdis AS (SELECT DISTINCT doc_id, p FROM cpos),
        |cv AS (SELECT doc_id, list(p ORDER BY p) AS cut FROM cdis GROUP BY doc_id),
        |cleaned AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    CASE WHEN cv.doc_id IS NULL THEN t.tk
        |         ELSE [t.tk[i+1] for i in range(0, len(t.tk)) if NOT list_contains(cv.cut, i)]
        |    END AS tk
        |  FROM tk0 t LEFT JOIN cv ON cv.doc_id = t.doc_id),
        |ded AS (
        |  SELECT doc_id, tk FROM (
        |    SELECT doc_id, tk,
        |      row_number() OVER (PARTITION BY array_to_string(tk, ' ') ORDER BY doc_id) AS rn
        |    FROM cleaned) WHERE rn = 1),
        |gated AS (SELECT doc_id, tk FROM ded WHERE len(tk) >= 5),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(tk) AS w FROM gated),
        |vc AS (SELECT w, count(*) AS cnt FROM ex GROUP BY w),
        |tot AS (SELECT sum(cnt) AS total FROM vc),
        |lp AS (
        |  SELECT w, CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
        |    * 1000000.0) AS BIGINT) AS lp
        |  FROM vc, tot),
        |scored AS MATERIALIZED (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |    round((CAST(sum(lp) AS DOUBLE) / 1000000.0)
        |      / CAST(count(*) AS DOUBLE), 6) AS avg_logprob
        |  FROM ex JOIN lp USING (w) GROUP BY doc_id),
        |thr AS (SELECT round(quantile_cont(avg_logprob, 0.4), 6) AS t FROM scored)
        |SELECT doc_id, n_tok, avg_logprob
        |FROM scored, thr WHERE avg_logprob >= t""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val spans = Dedup.substringSpans(docs, "text", "doc_id",
        k = 8, minSpanTokens = 12, maxPostings = 256)
      // Inline span-cut (r6 floor pass): covered positions aggregate to one
      // sorted array per AFFECTED doc, then the corpus is left-joined ONCE
      // — the previous cutSpans-then-join-back shape read and joined the
      // docs table twice for the same result. The cut itself is the same
      // per-row HOF token filter cutSpans applies.
      val covered = spans
        .select(col("doc_b").as("_cid"),
          explode(sequence(col("b_start"),
            col("b_start") + col("span_tokens") - 1)).as("_pos"))
        .groupBy(col("_cid"))
        .agg(sort_array(collect_set(col("_pos"))).as("_cut"))
      // keeper via a min window over the content-hash partition: one
      // exchange where the groupBy + join-back shape shuffled the cleaned
      // corpus twice (the dedupSegments lesson applied here)
      val wCk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_ck"))
      // Length gate BEFORE the keeper window (r6): members of a duplicate
      // group share the identical normalized token sequence (that is what
      // _ck hashes), so the ≥5-token gate decides uniformly per group and
      // commutes with keeper selection — gating first just shrinks the
      // window's exchange.
      val keyed = docs
        .join(covered, col("doc_id") === col("_cid"), "left_outer")
        .select(col("doc_id"),
          when(col("_cut").isNull, col("text"))
            .otherwise(concat_ws(" ", filter(Dedup.tokens(col("text")),
              (t, i) => !array_contains(col("_cut"), i))))
            .as("text"))
        .withColumn("_ck", Dedup.contentKey(col("text")))
        .filter(size(Dedup.tokens(col("text"))) >= 5)
      // materialize the cleaned+deduped corpus ONCE (lazy localCheckpoint):
      // downstream consumes it 5× (LM vocab build, scoring join, threshold
      // aggregate, final filter) and would otherwise re-run span detection
      // for each — measured 3.1 s → the re-bench time below. A real
      // pipeline writes this stage boundary to storage; the checkpoint is
      // the in-session equivalent.
      val gated = keyed
        .withColumn("_keep", min(col("doc_id")).over(wCk))
        .filter(col("doc_id") === col("_keep"))
        .select("doc_id", "text")
        .localCheckpoint(false)
      val scored = ops.Selection.unigramLogProb(gated, "text", "doc_id")
        .localCheckpoint(false)
      val thr = scored.agg(
        round(expr("percentile(avg_logprob, 0.4)"), 6).as("_t"))
      scored.crossJoin(broadcast(thr))
        .filter(col("avg_logprob") >= col("_t"))
        .select(col("doc_id"), col("n_tok"), col("avg_logprob"))
    },

    // The CAPSTONE training-data query: end-to-end corpus curation —
    // quality-filter → exact dedup → near-dup dedup (banded MinHash LSH →
    // Jaccard verify → connected components → keep cluster representatives).
    // Every stage is individually oracled elsewhere; this composes them into
    // the one pipeline a 100 TB pretraining corpus actually runs, and the
    // oracle recomputes the whole composition independently in SQL
    // (quality formula + normalized-text collapse + exact rep-level Jaccard
    // + recursive-CTE closure + anti-join). The MATERIALIZED hints are for
    // FAIRNESS to the baseline: DuckDB's default CTE inlining re-evaluates
    // the shared stages (90 s at sf0.1); materialized it runs ~9 s — the
    // baseline must race the reasonable formulation, not a degenerate one.
    q("q_corpus_curate",
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '' AND list_contains(
        |        ['the','a','and','of','to','der','die','das','und','zu',
        |         'le','la','et','les','de','el','los','y'], t))) AS DOUBLE) AS hits,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
        |    length(regexp_replace(regexp_replace(text, '\s+', '', 'g'),
        |      '[\p{L}\p{N}]', '', 'g')) AS n_punct
        |  FROM documents),
        |quality AS (
        |  SELECT doc_id,
        |    round(least(n_tok / 64.0, 1.0) * 0.4
        |      + least(hits * 8.0 / greatest(n_tok, 1.0), 1.0) * 0.3
        |      + greatest(1.0 - (CASE WHEN n_nonspace = 0 THEN 0.0
        |          ELSE CAST(n_punct AS DOUBLE) / n_nonspace END) * 4.0, 0.0) * 0.3,
        |    6) AS q
        |  FROM base),
        |good AS MATERIALIZED (
        |  SELECT d.doc_id, d.text FROM documents d
        |  JOIN quality ON quality.doc_id = d.doc_id WHERE quality.q >= 0.6),
        |keyed AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''), ' ') AS norm
        |  FROM good),
        |grp AS MATERIALIZED (SELECT norm, min(doc_id) AS rep FROM keyed GROUP BY norm),
        |star AS (
        |  SELECT g.rep AS id_a, k.doc_id AS id_b
        |  FROM keyed k JOIN grp g ON k.norm = g.norm WHERE k.doc_id <> g.rep),
        |tok AS (SELECT rep AS doc_id, string_split(norm, ' ') AS toks FROM grp),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        |  FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near AS (
        |  SELECT id_a, id_b
        |  FROM inter
        |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = id_b
        |  WHERE shared / (sa.n + sb.n - shared) >= 0.5),
        |pairs AS (SELECT id_a, id_b FROM star UNION SELECT id_a, id_b FROM near),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |labels AS MATERIALIZED (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id FROM good
        |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster_id)""".stripMargin) { (s, d) =>
      // Stage materialization: the near-dup stages downstream re-scan the
      // quality-filtered corpus several times (exact-collapse, shingling,
      // Jaccard verify, final anti-join), and each rescan would recompute
      // the quality score over every document body. A real pipeline
      // materializes this stage boundary; localCheckpoint keeps it on
      // executor-local storage (never the driver).
      val good = Tables.documents(s, d)
        .filter(graft.ops.TextAnalysis.qualityScore(col("text")) >= 0.6)
        .select(col("doc_id"), col("text"))
        .localCheckpoint(false)
      val pairs = Dedup.minhashNearDups(good, "text", "doc_id",
        threshold = 0.5, shingleN = 3, numHashes = 48, bands = 24)
      Dedup.dedupByPairs(good, "doc_id", pairs).select(col("doc_id"))
    },

    // Oracle-checked since round 3: DuckDB independently recomputes BOTH
    // hashes from raw UTF-8 bytes — fnv64 of the whole text, and the full
    // winnowing pipeline (byte 8-gram FNV hashes → sliding window-4 minima
    // → distinct, sorted) — via the hex()/HUGEINT modular-arithmetic
    // technique. Scoped to doc_id < 100 like q_ngram_jaccard so the
    // byte-level SQL recomputation stays a bounded slice of the baseline.
    // r5: both folds rebuilt without list_reduce (the known-bad DuckDB
    // 1.0.0 primitive) — the whole-text fold via the recursive chunked
    // fragment, the constant-8-byte gram fold fully unrolled.
    q("q_fingerprint",
      s"""WITH RECURSIVE scoped AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |${fnvFoldCtes("cfold", "scoped", "doc_id", "text")},
        |content AS (SELECT k AS doc_id, ch FROM cfold),
        |b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS nb FROM scoped),
        |bytes AS (
        |  SELECT doc_id, nb, [ (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)*16
        |              + strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1
        |              for i in range(1, nb + 1) ] AS bs
        |  FROM b),
        |grams AS (
        |  SELECT doc_id, nb,
        |    [ $fnv8Unrolled
        |      for i in range(1, nb - 8 + 2) ] AS hs
        |  FROM bytes WHERE nb >= 8),
        |signed AS (
        |  SELECT doc_id, [ CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |        THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |        for h in hs ] AS hsig
        |  FROM grams),
        |wins AS (
        |  SELECT doc_id, list_sort(list_distinct(
        |    [ list_min(hsig[i:i+3])
        |      for i in range(1, greatest(1, len(hsig) - 4 + 1) + 1) ])) AS fp
        |  FROM signed)
        |SELECT s.doc_id,
        |  CAST(CASE WHEN c.ch >= 9223372036854775808::HUGEINT
        |       THEN c.ch - 18446744073709551616::HUGEINT ELSE c.ch END AS BIGINT) AS content_hash,
        |  coalesce(array_to_string(w.fp, ','), '') AS fingerprints
        |FROM scoped s
        |LEFT JOIN content c ON c.doc_id = s.doc_id
        |LEFT JOIN wins w ON w.doc_id = s.doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), fnv64(col("text")).as("content_hash"),
          concat_ws(",", transform(winnow_fingerprint(col("text"), 8, 4),
            _.cast("string"))).as("fingerprints"))
    },

    // Oracle-checked since round 3 via the validation-aggregate pattern:
    // sampleBy's row picks depend on Spark's seeded RNG (not reproducible in
    // SQL), but the CONTRACT — per-stratum sample counts within binomial
    // bounds of fraction × stratum size — is. 6σ bound: false-alarm
    // probability ~2e-9 per stratum, while any real bias (wrong fraction,
    // wrong stratum keying, double sampling) lands far outside it.
    // Exact per-row determinism is still asserted in DedupKnnSpec.
    q("q_stratified_sample",
      """SELECT lang, count(*) AS n_total, CAST(1 AS BOOLEAN) AS in_bounds
        |FROM documents WHERE lang IN ('en', 'de', 'es', 'fr')
        |GROUP BY lang""".stripMargin) { (s, d) =>
      val fracs = Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.1)
      val frac = element_at(typedLit(fracs), col("lang"))
      val sampled = Tables.documents(s, d)
        .stat.sampleBy("lang", fracs, seed = 42L)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      Tables.documents(s, d)
        .filter(col("lang").isin(fracs.keys.toSeq: _*))
        .groupBy("lang").agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          (abs(coalesce(col("n_sampled"), lit(0L)) - col("n_total") * frac) <=
            lit(6.0) * sqrt(col("n_total") * frac * (lit(1.0) - frac)))
            .as("in_bounds"))
    },

    // ANN oracles (validation-aggregate): the LSH/IVF candidate set is not
    // SQL-expressible, but the probe CONTRACT is — (a) the global argmax
    // neighbor (the probe vector itself, or any exact-duplicate with a
    // smaller id) must surface with its exact cosine (true value equality,
    // DuckDB computes the argmax independently); (b) every emitted score
    // must be the true cosine of the id it is attached to (join-back
    // recompute); (c) the result is non-empty and ≤ k. Candidate-recall on
    // planted structure is DedupKnnSpec's job.
    q("q_ivf_knn",
      annOracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
      // index-build artifacts (coarse quantizer, probe vector) are built
      // once per dataset and amortized across every probe in a real
      // deployment — memoized so the measured query is the probe path
      // (assign + cell-pruned scan), not quantizer re-training
      val centroids = indexArtifact(s"ivf-centroids:$d") {
        Knn.trainCentroids(sampleVectors(s, d), nCells = 16)
      }
      val probe = probeVector(s, d)
      val ann = Knn.ivfSearch(Knn.ivfAssign(e, "embedding", centroids),
          "embedding", "vec_id", centroids, probe, 10, nProbe = 4)
        .select(col("vec_id").as("ann_id"), round(col("score"), 6).as("score"))
      annContract(ann, e, probe, k = 10)
    },

    // GRAPH-index ANN probe (NnDescent.nnDescentBuild + beamSearch; r18
    // verdict item 5) — the index class the reference actually deploys
    // (its bootstrap creates an HNSW index: KDS-P
    // index-creation-function/lambda_function.py:69-96, m 24,
    // ef_construction 128), closing the last structural gap vs the
    // production norm: IVF/PQ/LSH partition the SPACE, a kNN graph routes
    // through NEIGHBORS. Same contract-aggregate oracle as
    // q_ivf_knn/q_lsh_knn: the probe must surface the true top-1 with
    // exact re-scored cosines (the graph build itself is adjudicated by
    // NnDescentSpec recall floors + the ANN_CURVE nng axis, since an
    // approximate index has no exact SQL restatement). Build is memoized
    // per dataset (the quantizer/codebook stance): a deployment builds
    // the graph once and pays only the beam walk per query.
    q("q_nng_knn", annOracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val graph = indexArtifact(s"nng-graph:$d") {
        ops.NnDescent.nnDescentBuild(e, "embedding", "vec_id",
          degree = 10, rounds = 3).localCheckpoint(true)
      }
      val probe = probeVector(s, d)
      val ann = ops.NnDescent.beamSearch(graph, e, "embedding", "vec_id",
        probe, k = 10, ef = 32, maxHops = 6, nEntries = 4)
      annContract(ann, e, probe, k = 10)
    },

    // BATCHED graph-ANN serving (r19 verdict item 2, the round's largest
    // named capability gap): the reference's HNSW index serves MANY
    // CONCURRENT probes (KDS-P index-creation-function/
    // lambda_function.py:69-96 + the RAG consumer), and every other
    // retrieval op here already has a multi-query join form (knnJoin,
    // bm25Join) — this is the graph index's. All probes advance one hop
    // per round through SHARED edge/vector joins
    // (NnDescent.beamSearchBatch — per-query state in DataFrames, one
    // driver count per hop), entering at CENTROID-ROUTED anchors
    // (routedEntryFrame — the flat stand-in for HNSW's upper layers,
    // r19 verdict item 5). The graph, quantizer, and anchor table are
    // all once-per-dataset artifacts (the quantizer/codebook stance);
    // the measured query is pure serve-time work. Contract: ONE ROW PER
    // PROBE — each probe's true top-1 surfaced with exact re-scored
    // cosines, DuckDB recomputing every argmax independently.
    q("q_nng_batch", nngBatchOracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val graph = indexArtifact(s"nng-graph:$d") {
        ops.NnDescent.nnDescentBuild(e, "embedding", "vec_id",
          degree = 10, rounds = 3).localCheckpoint(true)
      }
      val centroids = indexArtifact(s"ivf-centroids:$d") {
        Knn.trainCentroids(sampleVectors(s, d), nCells = 16)
      }
      val anchors = indexArtifact(s"nng-anchors:$d") {
        ops.NnDescent.cellAnchors(e, "embedding", "vec_id", centroids)
      }
      val probes = e.filter(pmod(col("vec_id"), lit(29)) === 3)
        .select(col("vec_id").as("qid"), col("embedding"))
      val entries = ops.NnDescent.routedEntryFrame(probes, "qid",
        "embedding", centroids, anchors, nEntries = 4)
      val ann = ops.NnDescent.beamSearchBatch(graph, e, "embedding",
        "vec_id", probes, "qid", "embedding", k = 10, ef = 32, maxHops = 6,
        entries = Some(entries))
      annBatchContract(ann, e, probes, k = 10)
    },

    // Dominant principal direction by exact-integer power iteration
    // (Spectral.dominantProjection) — the PCA/whitening/all-but-the-top
    // primitive for embedding corpora: one d²-bounded Gram scan, a
    // driver-side BigInt power trajectory on the 10⁶ grid (init at the
    // largest diagonal, max-abs renormalization with remainder-based
    // round-half-away, deterministic sign), one projection scan with the
    // direction as a plan-time literal. The oracle replays the IDENTICAL
    // trajectory as unrolled CTEs — per-row projections hash-compare.
    q("q_power_iteration", powerIterOracle(iters = 3)) { (s, d) =>
      ops.Spectral.dominantProjection(Tables.embeddings(s, d),
        "embedding", "vec_id", dim = 64, iterations = 3)
    },

    // ALL-BUT-THE-TOP isotropy repair (Spectral.removeDominant; Mu &
    // Viswanath 2018): the exact-integer orthogonal rejection of the
    // power-iterated dominant direction, per row in one codegen HOF
    // (direction and ‖v‖² are plan literals — no join, no shuffle). The
    // oracle replays the identical trajectory AND rejection in HUGEINT;
    // corrected vectors compare through three exact per-row fingerprints
    // (first coordinate, coordinate sum, squared norm) instead of array
    // hashing.
    q("q_abtt", abttOracle(iters = 3)) { (s, d) =>
      ops.Spectral.removeDominant(Tables.embeddings(s, d),
          "embedding", "vec_id", dim = 64, iterations = 3)
        .select(col("vec_id"),
          element_at(col("corrected"), 1).as("c0"),
          aggregate(col("corrected"), lit(0L), _ + _).as("c_sum"),
          aggregate(col("corrected"), lit(0L), (acc, x) => acc + x * x)
            .as("c_norm2"))
    },

    // Streaming centroid maintenance (Knn.centroidBatchState / fold /
    // refreshCentroids / reassignmentAudit): the REPAIR arm for the
    // quantizer staleness embeddingDrift detects. Corpus splits into a
    // base (vec_id % 4 ≠ 3) and an arriving batch; per-slice k×d states
    // fold additively and the refresh equals one kmeansFit step over the
    // grown corpus (fold_matches_direct, checked exactly driver-side).
    // Cross-engine the oracle races the REAL quantities: n_total (the
    // audit scan's row count vs count(*)) and sum0 (the folded state's
    // Σ_cells grid-sum of dimension 0 vs the corpus-wide SQL sum — the
    // additivity property, restated independently). state_covers_corpus
    // compares the driver artifact's Σn against the audit scan's count
    // (two independent scans meeting in one boolean).
    q("q_centroid_refresh",
      """SELECT count(*) AS n_total,
        |  CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum0,
        |  CAST(1 AS BOOLEAN) AS fold_matches_direct,
        |  CAST(1 AS BOOLEAN) AS state_covers_corpus,
        |  CAST(1 AS BOOLEAN) AS audit_in_bounds
        |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d).where(col("embedding").isNotNull)
      val standing = indexArtifact(s"cm-standing:$d") {
        Knn.kmeansFit(e.filter(pmod(col("vec_id"), lit(4)) =!= 3),
            "embedding", "vec_id", k = 8, iterations = 1)
          .orderBy("cell").collect()
          .map(_.getSeq[Long](2).toIndexedSeq).toIndexedSeq: Seq[Seq[Long]]
      }
      // r20 §2.6: the three states are independent one-collect jobs —
      // build them concurrently (the q_artifact_dashboard thread stance)
      // instead of three serialized corpus scans
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      import ops.Par.{blockingFuture => bf}
      val fBase = bf { Knn.centroidBatchState(
        e.filter(pmod(col("vec_id"), lit(4)) =!= 3), "embedding", standing) }
      val fBatch = bf { Knn.centroidBatchState(
        e.filter(pmod(col("vec_id"), lit(4)) === 3), "embedding", standing) }
      val fDirect = bf {
        Knn.centroidBatchState(e, "embedding", standing) }
      val folded = Await.result(fBase, Duration.Inf)
        .fold(Await.result(fBatch, Duration.Inf))
      val direct = Await.result(fDirect, Duration.Inf)
      val refreshed = Knn.refreshCentroids(folded, standing)
      Knn.reassignmentAudit(e, "embedding", standing,
          refreshed.map(_.toSeq).toIndexedSeq)
        .select(col("n_total"),
          lit(folded.sums.map(_(0)).sum).as("sum0"),
          lit(folded.sameAs(direct)).as("fold_matches_direct"),
          (lit(folded.counts.sum) === col("n_total")).as("state_covers_corpus"),
          (col("n_changed") >= 0L && col("n_changed") <= col("n_total"))
            .as("audit_in_bounds"))
    },

    // Metadata-filtered ANN probe (Knn.ivfSearchFiltered): the tenant/date
    // filter every production RAG probe carries, pushed BELOW the
    // shortlist so the top-k contract holds over the FILTERED corpus. The
    // oracle recomputes the exact filtered argmax independently (vec 0
    // itself passes the filter — its label is the filter target — so the
    // filtered top-1 must surface from the probed cells with cosine 1.0);
    // every emitted id must carry its true cosine AND satisfy the filter
    // (all_match_filter via the same join-back). Pre-vs-post-filter recall
    // is DedupKnnSpec's job.
    q("q_filtered_knn",
      """WITH t AS (SELECT label FROM embeddings WHERE vec_id = 0),
        |probe AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |sims AS (
        |  SELECT e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], qv), 6) AS sim
        |  FROM embeddings e, probe, t WHERE e.label = t.label)
        |SELECT CAST(1 AS BOOLEAN) AS n_in_bounds,
        |  vec_id AS top1_id, sim AS top1_score,
        |  CAST(1 AS BOOLEAN) AS scores_exact,
        |  CAST(1 AS BOOLEAN) AS all_match_filter
        |FROM sims ORDER BY sim DESC, vec_id LIMIT 1""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val centroids = indexArtifact(s"ivf-centroids:$d") {
        Knn.trainCentroids(sampleVectors(s, d), nCells = 16)
      }
      val probe = probeVector(s, d)
      val lbl = indexArtifact(s"probe-label:$d") {
        java.lang.Integer.valueOf(
          e.filter(col("vec_id") === 0).select(col("label")).head().getInt(0))
      }.intValue()
      val ann = Knn.ivfSearchFiltered(Knn.ivfAssign(e, "embedding", centroids),
          "embedding", "vec_id", centroids, probe, 10, nProbe = 4,
          predicate = col("label") === lbl)
        .select(col("vec_id").as("ann_id"), round(col("score"), 6).as("score"))
      ann.join(e.select(col("vec_id").as("_cid"), col("embedding"),
          col("label").as("_clab")), col("ann_id") === col("_cid"))
        .select(col("ann_id"), col("score"), col("_clab"),
          round(cosine_sim(col("embedding"), typedLit(probe)), 6).as("_true"))
        .agg(
          count(lit(1)).between(1, 10).as("n_in_bounds"),
          max_by(col("ann_id"), struct(col("score"), -col("ann_id"))).as("top1_id"),
          max(col("score")).as("top1_score"),
          bool_and(col("score") === col("_true")).as("scores_exact"),
          bool_and(col("_clab") === lbl).as("all_match_filter"))
    },

    // IVF probe over a coarse quantizer trained by the DISTRIBUTED Lloyd
    // trainer (Knn.kmeansFit) instead of the driver-side sample trainer —
    // the wiring that makes the full-corpus-trained quantizer a consumed
    // index artifact, not a leaf: fit on the whole corpus (exact integer
    // trajectory), cast the 10⁻⁶-grid centroids to float, assign + probe
    // through the identical ivfAssign/ivfSearch path, and hold the same
    // ANN contract (exact top-1 surfaces with its true cosine, every score
    // verifies by join-back, ≤ k rows). Trained once per dataset and
    // memoized like every index artifact.
    q("q_kmeans_ivf",
      annOracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val centroids = indexArtifact(s"kmeans-ivf-centroids:$d") {
        Knn.kmeansFit(e, "embedding", "vec_id", k = 16, iterations = 2)
          .orderBy("cell").collect()
          .map(_.getSeq[Long](2).map(_ / 1e6f).toArray)
      }
      val probe = probeVector(s, d)
      val ann = Knn.ivfSearch(Knn.ivfAssign(e, "embedding", centroids),
          "embedding", "vec_id", centroids, probe, 10, nProbe = 4)
        .select(col("vec_id").as("ann_id"), round(col("score"), 6).as("score"))
      annContract(ann, e, probe, k = 10)
    },

    q("q_lsh_knn",
      annOracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = probeVector(s, d)
      val ann = Knn.lshBucketed(e, "embedding", "vec_id", probe, 10, dim = 64)
        .select(col("vec_id").as("ann_id"), round(col("score"), 6).as("score"))
      annContract(ann, e, probe, k = 10)
    },

    // PQ ANN probe (same contract oracle as q_ivf_knn/q_lsh_knn): ADC over
    // 8-byte PQ codes → shortlist-64 → exact cosine re-rank. The probe's own
    // row has the minimum quantization error, so the exact top-1 always
    // survives the shortlist (PqSpec pins this plus recall).
    q("q_pq_knn",
      annOracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = probeVector(s, d)
      // codebooks are index-build artifacts, trained once per dataset on a
      // bounded sample and reused by every probe (like the IVF quantizer)
      val cb = indexArtifact(s"pq-codebooks:$d") {
        Knn.trainPq(sampleVectors(s, d), m = 8, ksub = 16)
      }
      val ann = Knn.pqSearch(e, "embedding", "vec_id", cb, probe, 10, shortlist = 64)
        .select(col("vec_id").as("ann_id"), round(col("score"), 6).as("score"))
      annContract(ann, e, probe, k = 10)
    },

    // IVF-PQ composed probe (same contract oracle): coarse cells prune the
    // rows scanned, PQ codes shrink the bytes per row — the FAISS IVFPQ
    // batch recipe. The probe's own row lands in the nearest probed cell
    // with minimum ADC error, so the exact top-1 survives both pruning
    // stages (PqSpec pins equivalence to exact at full probe/shortlist).
    q("q_ivfpq_knn",
      annOracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = probeVector(s, d)
      val centroids = indexArtifact(s"ivf-centroids:$d") {
        Knn.trainCentroids(sampleVectors(s, d), nCells = 16)
      }
      val cb = indexArtifact(s"pq-codebooks:$d") {
        Knn.trainPq(sampleVectors(s, d), m = 8, ksub = 16)
      }
      val ann = Knn.ivfPqSearch(Knn.ivfAssign(e, "embedding", centroids),
          "embedding", "vec_id", centroids, cb, probe, 10,
          nProbe = 4, shortlist = 64)
        .select(col("vec_id").as("ann_id"), round(col("score"), 6).as("score"))
      annContract(ann, e, probe, k = 10)
    },

    // Multimodal image near-dup, oracle-checkable end to end: the corpus is
    // REAL PNGs rendered deterministically from doc_id (same family id →
    // same block pattern + per-id pixel noise; Multimodal.syntheticImages),
    // so the expected pair set is pure id arithmetic the SQL side
    // recomputes — while Spark must earn it through actual PNG decode →
    // 9×8 bilinear downscale → 64-bit dHash → the chunk-blocked Hamming
    // join (payload bytes never shuffle; only (id, hash64) rows reach the
    // exchange). Construction guarantees within-family Hamming 0 (≥64
    // luminance margin per dHash cell vs ±3 noise) and cross-family ~32,
    // so maxHamming=6 has wide margin on both sides. Families scale with
    // the table (10 members each) so every SF plants real pairs.
    q("q_image_neardup",
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND a.doc_id % (SELECT CAST(greatest(count(*) // 10, 1) AS BIGINT)
        |                 FROM documents)
        |   = b.doc_id % (SELECT CAST(greatest(count(*) // 10, 1) AS BIGINT)
        |                 FROM documents)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nFam = indexArtifact(s"img-nfam:$d") {
        java.lang.Long.valueOf(math.max(1L, docs.count() / 10))
      }.longValue()
      val media = graft.multimodal.Multimodal.syntheticImages(docs, "doc_id", nFam)
      graft.multimodal.Multimodal.imageNearDups(media, maxHamming = 6)
        .select(col("id_a"), col("id_b"))
    },

    // Multimodal audio near-dup, oracle-checkable end to end (the
    // q_image_neardup recipe for sound): ids become REAL WAVs whose
    // family (id % nFam) fixes a 24-of-64 tone chord while each id gets
    // its own volume and noise — Spark earns every pair through WAV
    // decode → 64-band DFT → perceptual hash → the chunk-blocked Hamming
    // join, while the SQL side restates the pair set from pure id
    // arithmetic. Construction guarantees within-family Hamming 0
    // (band shares 1/24 vs threshold 1/64, gain-invariant) and
    // cross-family ~30, so maxHamming=2 has wide margin on both sides.
    q("q_audio_neardup",
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND a.doc_id % (SELECT CAST(greatest(count(*) // 10, 1) AS BIGINT)
        |                 FROM documents)
        |   = b.doc_id % (SELECT CAST(greatest(count(*) // 10, 1) AS BIGINT)
        |                 FROM documents)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nFam = indexArtifact(s"aud-nfam:$d") {
        java.lang.Long.valueOf(math.max(1L, docs.count() / 10))
      }.longValue()
      val media = graft.multimodal.Multimodal.syntheticWavFamilies(docs, "doc_id", nFam)
      graft.multimodal.Multimodal.audioNearDups(media, maxHamming = 2)
        .select(col("id_a"), col("id_b"))
    },

    // Multimodal video near-dup — the last side of the perceptual-dedup
    // square (text/image/audio/video over one shared Hamming machinery):
    // ids (every 2nd doc) become REAL animated GIFs whose family fixes
    // the frame-pattern SEQUENCE and frame count while each id carries
    // its own pixel noise; Spark earns every pair through GIF encode →
    // frame decode → per-frame dHash → majority-bit signature → the
    // chunk-blocked Hamming join, while the SQL side restates the pair
    // set from id arithmetic (within-family Hamming 0 by construction —
    // ≥64 luminance margin per dHash cell, lossless GIF grays).
    q("q_video_neardup",
      """WITH v AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
        |n AS (SELECT CAST(greatest(count(*) // 10, 1) AS BIGINT) AS nf FROM v)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM v a JOIN v b ON a.doc_id < b.doc_id, n
        |WHERE a.doc_id % nf = b.doc_id % nf""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
      val nFam = indexArtifact(s"vid-nfam:$d") {
        java.lang.Long.valueOf(math.max(1L, docs.count() / 10))
      }.longValue()
      val media = graft.multimodal.Multimodal.syntheticGifFamilies(docs, "doc_id", nFam)
      graft.multimodal.Multimodal.videoNearDups(media, maxHamming = 6)
        .select(col("id_a"), col("id_b"))
    },

    // Multimodal video frame-sampling, oracle-checkable end to end: ids
    // become REAL animated GIFs (3 + id%5 solid-gray frames, levels 64
    // apart), Spark earns every row through encode → frame decode → even
    // sampling → PNG re-encode → decode → nearest-level classification
    // (GIF palette shifts ≤ ~8 gray, margin 32 — codec-proof), while the
    // SQL side restates frame counts, even-sample source indices, and
    // levels from pure id arithmetic.
    q("q_video_frames",
      """WITH v AS (
        |  SELECT doc_id, 3 + doc_id % 5 AS len,
        |    least(4, 3 + doc_id % 5) AS k
        |  FROM documents WHERE doc_id % 4 = 0),
        |f AS (
        |  SELECT doc_id, len, i,
        |    i * (len - 1) // (k - 1) AS src
        |  FROM v, unnest(range(0, k)) u(i))
        |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
        |  16 AS w, 16 AS h,
        |  CAST((doc_id + 3 * src) % 4 AS INT) AS level
        |FROM f""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).filter(col("doc_id") % 4 === 0)
      val gifs = graft.multimodal.Multimodal.syntheticGifs(docs, "doc_id")
      graft.multimodal.Multimodal.sampleFrames(gifs, 4).map { fr =>
        val img = graft.multimodal.ImageCodec.decode(fr.frame)
        val g = img.getRGB(8, 8) & 0xff
        val lvl = Seq(32, 96, 160, 224).zipWithIndex
          .minBy { case (l, _) => math.abs(g - l) }._2
        (fr.media_id, fr.frame_idx, img.getWidth, img.getHeight, lvl)
      }.toDF("media_id", "frame_idx", "w", "h", "level")
    },

    // Multimodal audio profile (validation-aggregate, the q_rag_pipeline
    // pattern): the corpus is REAL 16-bit WAVs synthesized from doc_id
    // (pure sine, freq = 200 + (id%20)·100 Hz, A = 0.5, 500 ms @ 8 kHz),
    // with closed-form expectations — per-window RMS = A/√2, zero-cross
    // rate = 2f/fs, decoded rate/duration exact. Spark MEASURES each bound
    // through the real WAV decode + feature path; the SQL side restates
    // the expected values from id arithmetic. Any violation (wrong decode,
    // wrong windowing, wrong rate recovery) breaks the driver hash.
    q("q_audio_profile",
      """SELECT count(*) AS n_audio,
        |  CAST(1 AS BOOLEAN) AS all_rate_ok,
        |  CAST(1 AS BOOLEAN) AS all_dur_ok,
        |  CAST(1 AS BOOLEAN) AS all_rms_ok,
        |  CAST(1 AS BOOLEAN) AS all_zcr_ok,
        |  count(DISTINCT 200 + (doc_id % 20) * 100) AS n_freqs
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val media = graft.multimodal.Multimodal.syntheticWavs(docs, "doc_id")
      val feats = graft.multimodal.Multimodal.audioFeatures(media, windows = 8).toDF()
      val rmsExp = lit(0.5 / math.sqrt(2.0))
      val zcrExp = (lit(200.0) + (col("media_id") % 20) * 100.0) * 2.0 / 8000.0
      feats.agg(
        count(lit(1)).as("n_audio"),
        bool_and(col("meta.sample_rate") === 8000).as("all_rate_ok"),
        bool_and(col("meta.duration_ms") === 500L).as("all_dur_ok"),
        bool_and(forall(slice(col("features"), 1, 8),
          x => abs(x - rmsExp) < lit(0.01))).as("all_rms_ok"),
        bool_and(abs(element_at(col("features"), 9) - zcrExp) < 0.01)
          .as("all_zcr_ok"),
        countDistinct(lit(200) + (col("media_id") % 20) * 100).as("n_freqs"))
    },

    // Pipeline oracle (validation-aggregate): per-row compare is impossible
    // (`_id` is uuid-v4 by reference semantics), so the output is the
    // pipeline's CONTRACT — row count equals the O3-filtered document count
    // (only NULL/empty text drops; whitespace-only passes), ids are unique
    // and uuid-v4-shaped, every embedding has the titan-v2 dim, every date
    // parsed to the wire timestamp, and distinct texts pass through
    // unchanged. Spark MEASURES each; the SQL side computes the counts
    // independently and STATES the booleans — any violation breaks the
    // driver's hash. Full-vector embedding determinism is PipelineSpec's.
    q("q_rag_pipeline",
      """WITH valid AS (
        |  SELECT text FROM documents WHERE text IS NOT NULL AND text <> '')
        |SELECT count(*) AS n_docs, count(*) AS n_ids,
        |  CAST(1 AS BOOLEAN) AS all_uuid_v4,
        |  CAST(1 AS BOOLEAN) AS all_dim_1024,
        |  CAST(1 AS BOOLEAN) AS all_dates_parsed,
        |  count(DISTINCT text) AS n_texts
        |FROM valid""".stripMargin) { (s, d) =>
      val raw = Tables.documents(s, d).select(
        to_json(struct(col("text"),
          lit("2024-01-01T12:00:00.000Z").as("created_at"))).as("value"))
      graft.pipeline.RagPipeline.batch(raw, graft.embed.StubEmbeddingProvider("titan-v2"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("_id")).as("n_ids"),
          bool_and(col("_id").rlike(
            "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"))
            .as("all_uuid_v4"),
          bool_and(size(col("passage_embedding")) === 1024).as("all_dim_1024"),
          bool_and(col("date") ===
            lit("2024-01-01 12:00:00").cast("timestamp")).as("all_dates_parsed"),
          countDistinct(col("text")).as("n_texts"))
    })

  // ------------------------------------------------------------------ export

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(x => x.name -> x.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(x => x.oracle.map(x.name -> _)).toMap
}
