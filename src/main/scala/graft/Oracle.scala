package graft

import graft.SparkEntry._
import graft.ops.{Dedup, Sketch, TextAnalysis}

/** The DuckDB oracle: one SQL twin per registered query in
  * [[SparkEntry.queries]], keyed by the same name. Verify dumps
  * `sql` to oracle_sql.json and the correctness gate runs each
  * string in DuckDB over the same parquet, comparing rows with the
  * Spark result. The twins re-express each operator in plain SQL
  * with the float-parity conventions of SparkEntry (exact DECIMAL
  * sums, the same scalar formula, 6-dp rounding). Fixture
  * parameters both sides must agree on are declared once in
  * SparkEntry and read from here. */
object Oracle {

  /** The derived-stat SELECT columns shared by every moment-sums
    * oracle. `guarded=true` adds the degenerate-group zeroing of
    * Profiler.groupedNumericProfile (n-too-small / zero variance →
    * skew = kurt = 0). */
  private def momentStatsSql(guarded: Boolean = false,
                             withQuantiles: Boolean = true): String = {
    val skewBody =
      """(CAST(s3 AS DOUBLE)/n - 3.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n) + 2.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
        |    / (sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
        |       * sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
        |       * sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)))""".stripMargin
    val kurtBody =
      """(CAST(s4 AS DOUBLE)/n - 4.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n)
        |         + 6.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n)
        |         - 3.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
        |    / ((CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
        |       * (CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))) - 3.0""".stripMargin
    val varPos = "(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)) > 0"
    val skew = if (guarded) s"CASE WHEN n > 2 AND $varPos THEN $skewBody ELSE CAST(0 AS DOUBLE) END"
               else skewBody
    val kurt = if (guarded) s"CASE WHEN n > 3 AND $varPos THEN $kurtBody ELSE CAST(0 AS DOUBLE) END"
               else kurtBody
    val qCols = if (withQuantiles)
      ",\n  round(qs[2], 6) AS median, round(qs[1], 6) AS q1, round(qs[3], 6) AS q3"
    else ""
    s"""n,
       |  round(CAST(s1 AS DOUBLE)/n, 6) AS mean,
       |  round(sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)), 6) AS std,
       |  round($skew, 6) AS skew,
       |  round($kurt, 6) AS kurt,
       |  mn, mx$qCols""".stripMargin
  }

  /** Oracle-side twin of [[graft.engine.Profiler.numericProfile]]. */
  private def numericProfileSql(table: String, c: String): String =
    s"""WITH s AS (
       |  SELECT count($c) AS n,
       |         sum($c) AS s1,
       |         sum($c*$c) AS s2,
       |         sum($c*$c*$c) AS s3,
       |         sum($c*$c*$c*$c) AS s4,
       |         min($c) AS mn, max($c) AS mx,
       |         quantile_cont($c, [0.25, 0.5, 0.75]) AS qs
       |  FROM $table)
       |SELECT ${momentStatsSql()}
       |FROM s""".stripMargin

  private def valueCountsSql(table: String, c: String): String =
    s"""SELECT CAST($c AS VARCHAR) AS value, count(*) AS cnt,
       |  round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS prob
       |FROM $table WHERE $c IS NOT NULL
       |GROUP BY 1 ORDER BY cnt DESC, value ASC""".stripMargin

  // ---- engine-portable token / hash SQL fragments (DuckDB side) ----

  /** DuckDB twin of TextAnalysis.tokens. */
  private def toksSql(c: String): String =
    s"list_filter(regexp_split_to_array(lower($c), '[^a-z0-9]+'), x -> x <> '')"

  /** Shared HLL-replay CTE chain (q172/q174): expects an upstream CTE
    * `src(g, h)` of keyed md5 digests; ends in `fin(g, m, n_buckets,
    * max_rank, est)` — the register/estimate ladder of
    * [[graft.ops.Sketch.hllDistinct]] keyed on g. */
  private def hllSqlTail: String =
    s"""reg AS (SELECT g, CAST(${graft.ops.Sketch.hexIntSql("h", 1, 2)} AS INT) AS bucket,
       |    ${graft.ops.Sketch.hexIntSql("h", 3, 12)} AS w FROM src),
       |mr AS (SELECT g, bucket, max(49 - length(ltrim(bin(w), '0'))) AS mrank
       |  FROM reg GROUP BY 1, 2),
       |sm AS (SELECT g, CAST(count(*) AS INT) AS n_buckets,
       |    CAST(max(mrank) AS INT) AS max_rank,
       |    sum(CAST(1 AS BIGINT) << CAST(49 - mrank AS INT)) AS s_present
       |  FROM mr GROUP BY 1),
       |est0 AS (SELECT *,
       |    (${graft.ops.Sketch.hllAlphaM2Literal} * CAST((CAST(1 AS BIGINT) << 49) AS DOUBLE)) /
       |      CAST(s_present + (256 - CAST(n_buckets AS BIGINT)) *
       |           (CAST(1 AS BIGINT) << 49) AS DOUBLE) AS raw
       |  FROM sm),
       |fin AS (SELECT g, CAST(256 AS INT) AS m, n_buckets, max_rank,
       |  round(CASE WHEN raw <= 640.0 AND (256 - n_buckets) > 0
       |    THEN 256.0 * ln(256.0 / CAST(256 - n_buckets AS DOUBLE))
       |    ELSE raw END, 6) AS est FROM est0)""".stripMargin

  /** DuckDB twin of TextAnalysis.tokenHash31 (7 hex digits of md5). */
  private def hash31Sql(tok: String): String =
    (0 until 7).map { i =>
      s"(instr('0123456789abcdef', substr(md5($tok), ${i + 1}, 1)) - 1) * ${1L << (4 * (6 - i))}"
    }.mkString("(", " + ", ")")

  /** [[simhashSql]] as an integer at width `nBits` (bit j of the
    * MSB-first string ↔ weight 2^(nBits−1−j), signed 64-bit word) — the
    * form the Hamming-band oracle shifts and masks. Bit j draws on bit
    * (j/32) of md5 hex digit (j%32), matching
    * `TextAnalysis.simHashRow`; at nBits=64 the j=0 weight is
    * Long.MinValue, which DuckDB parses as a BIGINT literal, and being
    * the leftmost term of the sum no intermediate overflows. */
  private def simhashIntSql(toksExpr: String, nBits: Int): String =
    (0 until nBits).map { j =>
      s"(CASE WHEN list_sum(list_transform($toksExpr, t -> (((instr('0123456789abcdef', substr(md5(t), ${(j % 32) + 1}, 1)) - 1) >> ${j / 32}) & 1) * 2 - 1)) > 0 THEN ${1L << (nBits - 1 - j)} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Unrolled oracle twin of [[graft.ops.Graph.minLabelPropagation]]:
    * emits CTE stages `e2` (bidirected edges) and `v0`..`v<rounds>`;
    * expects an upstream CTE `e` with (src, dst). Deterministic at any
    * round cutoff — both engines run the SAME number of rounds, so
    * parity never depends on convergence. */
  private def ccRoundsSql(rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      s"""v$i AS (
         |  SELECT v.id, least(v.lbl, coalesce(m.ml, v.lbl)) AS lbl
         |  FROM v${i - 1} v LEFT JOIN (
         |    SELECT e.dst AS id, min(w.lbl) AS ml
         |    FROM e2 e JOIN v${i - 1} w ON w.id = e.src GROUP BY 1) m
         |    USING (id))""".stripMargin
    }
    (Seq(
      "e2 AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)",
      "v0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e2)") ++ stages)
      .mkString(",\n")
  }

  /** DuckDB twin of TextAnalysis.simHashRow at 16 bits. */
  private def simhashSql(toksExpr: String): String = {
    val bits = (0 until 16).map { j =>
      s"CASE WHEN list_sum(list_transform($toksExpr, t -> ((instr('0123456789abcdef', substr(md5(t), ${j + 1}, 1)) - 1) % 2) * 2 - 1)) > 0 THEN '1' ELSE '0' END"
    }
    bits.mkString("concat(", ", ", ")")
  }

  /** DuckDB twin of Dedup.shingles(k=3): distinct word 3-grams. */
  private def shinglesSql(c: String): String = {
    val w = toksSql(c)
    s"""list_distinct(CASE WHEN len($w) < 3
       |  THEN [array_to_string($w, ' ')]
       |  ELSE list_transform(range(len($w) - 2), i -> $w[i+1] || ' ' || $w[i+2] || ' ' || $w[i+3])
       |END)""".stripMargin
  }

  private def withDupsSql(table: String, idCol: String, below: Long, shift: Long): String =
    s"(SELECT * FROM $table UNION ALL SELECT ${"*"} REPLACE ($idCol + $shift AS $idCol) FROM $table WHERE $idCol < $below)"

  // ---------------------------------------------------------------
  // oracle SQL (DuckDB dialect), one per registered query
  // ---------------------------------------------------------------

  def sql: Map[String, String] = {
    val toks = toksSql("text")
    // stub decode twin: hex digit i (1-based) of md5 as integer
    def hd(i: Int) = s"(instr('0123456789abcdef', substr(md5(text), $i, 1)) - 1)"

    Map(
      "q82_expectations" -> {
        val preds = Seq(
          "notnull(o_custkey)" -> "o_custkey IS NOT NULL",
          "positive(o_totalprice)" -> "o_totalprice > 0",
          "cap(o_totalprice)" -> "o_totalprice <= 400000",
          "set(o_orderstatus)" -> "o_orderstatus IN ('O','F','P')",
          "pattern(o_orderpriority)" ->
            "regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')",
          "recent(o_orderdate)" -> "o_orderdate < TIMESTAMP '2000-01-01'")
        val vcols = preds.zipWithIndex.map { case ((_, p), i) =>
          s"CAST(coalesce(sum(CASE WHEN NOT coalesce($p, TRUE) THEN 1 END), 0) AS BIGINT) AS v$i"
        }.mkString(",\n  ")
        val rows = preds.zipWithIndex.map { case ((name, _), i) =>
          s"""SELECT '$name' AS rule, n, v$i AS n_violations,
             |  round(CAST(n - v$i AS DOUBLE) / n, 6) AS pass_rate FROM base""".stripMargin
        }
        val uniq =
          """SELECT 'unique(o_orderkey)' AS rule,
            |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
            |  CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS n_violations,
            |  round(CAST(coalesce(sum(c), 0) - coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS DOUBLE)
            |    / coalesce(sum(c), 0), 6) AS pass_rate
            |FROM (SELECT count(*) AS c FROM orders
            |      WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)""".stripMargin
        s"""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |  $vcols
           |FROM orders)
           |${(rows :+ uniq).mkString("\nUNION ALL\n")}
           |ORDER BY rule""".stripMargin
      },

      "q83_pagerank" -> {
        def iter(k: Int) =
          s"""c$k AS (SELECT e.dst AS id,
             |  sum(CAST(floor(r${k - 1}.pr / d.deg * 1e15) AS DECIMAL(38,0))) AS acc
             |  FROM e JOIN d ON e.src = d.src JOIN r${k - 1} ON e.src = r${k - 1}.id
             |  GROUP BY 1),
             |r$k AS (SELECT nodes.id,
             |  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             |    + CAST(0.85 AS DOUBLE) * (CAST(coalesce(c$k.acc, 0) AS DOUBLE) / 1e15) AS pr
             |  FROM nodes CROSS JOIN nn LEFT JOIN c$k ON nodes.id = c$k.id)""".stripMargin
        s"""WITH e0 AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
           |    's' || CAST(l_suppkey AS VARCHAR) AS dst
           |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
           |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
           |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT id, round(pr, 6) AS pr FROM r3 ORDER BY id""".stripMargin
      },

      // Brute-force all-pairs form: complete because J ≥ τ > 0 implies
      // the pair shares ≥ 1 shingle, so the shingle equi-join finds it.
      // The Spark side prunes candidates with the prefix filter instead;
      // both filters are lossless, so the outputs are identical.
      "q84_jaccard_join_prefix" -> {
        val sh = shinglesSql("text")
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
           |sh AS (SELECT doc_id, unnest($sh) AS s FROM dup),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
           |  FROM sh a JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |$jaccardReadoffSql""".stripMargin
      },

      "q118_containment_join" -> {
        val sh = shinglesSql("text")
        val toks = toksSql("text")
        s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
           |snip AS (SELECT doc_id + 20000 AS doc_id,
           |    array_to_string(list_slice($toks, 1, 12), ' ') AS text FROM base),
           |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM snip),
           |sh AS (SELECT doc_id, unnest($sh) AS s FROM corpus),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
           |  FROM sh a JOIN sh b ON b.s = a.s AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  round(CAST(i AS DOUBLE) / sa.sz, 6) AS containment
           |FROM inter JOIN sizes sa ON sa.doc_id = id_a
           |WHERE CAST(i AS DOUBLE) / sa.sz >= 0.9
           |ORDER BY id_a, id_b""".stripMargin
      },

      "q120_incremental_admit" ->
        s"""WITH inc AS (
           |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 400
           |  UNION ALL
           |  SELECT doc_id + 30000, text || ' nearmarker', n_chars
           |  FROM documents WHERE doc_id < 20),
           |skp AS (SELECT doc_id AS id, CAST(${simhashIntSql(toks, 64)} AS BIGINT) AS h
           |  FROM documents WHERE doc_id < 400),
           |ski AS (SELECT doc_id AS id, CAST(${simhashIntSql(toks, 64)} AS BIGINT) AS h FROM inc),
           |bp AS (SELECT id, h, b AS band, (h >> (b * 16)) & 65535 AS key
           |  FROM skp CROSS JOIN range(4) t(b)),
           |bi AS (SELECT id, h, b AS band, (h >> (b * 16)) & 65535 AS key
           |  FROM ski CROSS JOIN range(4) t(b)),
           |hit AS (SELECT DISTINCT l.id FROM bi l JOIN bp r
           |  ON l.band = r.band AND l.key = r.key
           |  WHERE bit_count(xor(l.h, r.h)) <= 3),
           |fresh AS (SELECT id FROM ski WHERE id NOT IN (SELECT id FROM hit)),
           |cand AS (SELECT DISTINCT l.id AS id_a, l.h AS h_a, r.id AS id_b, r.h AS h_b
           |  FROM bi l JOIN bi r ON l.band = r.band AND l.key = r.key AND l.id < r.id
           |  WHERE l.id IN (SELECT id FROM fresh) AND r.id IN (SELECT id FROM fresh)),
           |e AS (SELECT id_a AS src, id_b AS dst FROM cand
           |      WHERE bit_count(xor(h_a, h_b)) <= 3),
           |${ccRoundsSql(3)},
           |todrop AS (SELECT id FROM v3 WHERE lbl <> id)
           |SELECT i.doc_id, i.n_chars FROM inc i
           |WHERE i.doc_id IN (SELECT id FROM fresh)
           |  AND i.doc_id NOT IN (SELECT id FROM todrop)
           |ORDER BY doc_id""".stripMargin,

      "q85_semantic_dedup" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("embeddings", "vec_id", 50, 10000)}),
           |corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           |           FROM dup WHERE embedding IS NOT NULL),
           |cent AS (SELECT id AS centroid_id, v AS cv FROM corpus ORDER BY id LIMIT 16),
           |asg AS (SELECT id, centroid_id, v FROM (
           |  SELECT c.id, ct.centroid_id, c.v,
           |    row_number() OVER (PARTITION BY c.id
           |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.centroid_id ASC) AS rn
           |  FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
           |e AS (SELECT l.id AS src, r.id AS dst
           |  FROM asg l JOIN asg r ON l.centroid_id = r.centroid_id AND l.id < r.id
           |  WHERE list_cosine_similarity(l.v, r.v) >= 0.99),
           |${ccRoundsSql(3)},
           |todrop AS (SELECT id FROM v3 WHERE lbl <> id)
           |SELECT vec_id FROM dup WHERE vec_id NOT IN (SELECT id FROM todrop)
           |ORDER BY vec_id""".stripMargin,

      "q86_retention" ->
        """WITH a AS (SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS b
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |c AS (SELECT u, b, min(b) OVER (PARTITION BY u) AS cohort FROM a),
          |g AS (SELECT cohort, CAST(date_diff('day', cohort, b) AS INT) AS age,
          |        CAST(count(*) AS BIGINT) AS n_active
          |      FROM c GROUP BY 1, 2),
          |s AS (SELECT cohort, n_active AS n_cohort FROM g WHERE age = 0)
          |SELECT strftime(g.cohort, '%Y-%m-%d') AS cohort, g.age, g.n_active,
          |  s.n_cohort,
          |  round(CAST(g.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
          |FROM g JOIN s USING (cohort) ORDER BY cohort, age""".stripMargin,

      "q79_transitions" ->
        """WITH s AS (SELECT event_type AS ft,
          |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS tt
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |p AS (SELECT ft, tt, CAST(count(*) AS BIGINT) AS n FROM s
          |      WHERE tt IS NOT NULL GROUP BY 1, 2),
          |f AS (SELECT ft, CAST(sum(n) AS BIGINT) AS tot FROM p GROUP BY 1)
          |SELECT p.ft AS from_type, p.tt AS to_type, p.n,
          |  round(CAST(p.n AS DOUBLE) / CAST(f.tot AS DOUBLE), 6) AS prob
          |FROM p JOIN f ON p.ft = f.ft ORDER BY from_type, to_type""".stripMargin,

      "q80_resample_hourly" ->
        """WITH b AS (SELECT date_trunc('hour', ts) AS h,
          |    CAST(count(*) AS BIGINT) AS n,
          |    round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
          |r AS (SELECT min(h) AS lo, max(h) AS hi FROM b),
          |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS s FROM r)
          |SELECT strftime(spine.s, '%Y-%m-%d %H:%M:%S') AS bucket,
          |  coalesce(b.n, 0) AS n,
          |  coalesce(b.sum_value, CAST(0.0 AS DOUBLE)) AS sum_value
          |FROM spine LEFT JOIN b ON spine.s = b.h ORDER BY bucket""".stripMargin,

      "q107_audience_overlap" ->
        """WITH a AS (SELECT DISTINCT user_id AS k, event_type AS i FROM events
          |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
          |sz AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1),
          |p AS (SELECT l.i AS item_a, r.i AS item_b, CAST(count(*) AS BIGINT) AS n_keys
          |      FROM a l JOIN a r ON l.k = r.k AND l.i < r.i GROUP BY 1, 2)
          |SELECT p.item_a, p.item_b, p.n_keys, sa.n AS n_a, sb.n AS n_b,
          |  round(CAST(p.n_keys AS DOUBLE) / (sa.n + sb.n - p.n_keys), 6) AS jaccard
          |FROM p JOIN sz sa ON sa.i = p.item_a JOIN sz sb ON sb.i = p.item_b
          |ORDER BY item_a, item_b""".stripMargin,

      "q106_multimodal_audio" ->
        s"""SELECT doc_id, CAST(44 AS BIGINT) AS n_bytes,
           |  CAST(1 + ((${hd(3)} * 16 + ${hd(4)}) % 2) AS INT) AS channels,
           |  CAST(CASE ((${hd(1)} * 16 + ${hd(2)}) % 4)
           |    WHEN 0 THEN 8000 WHEN 1 THEN 16000
           |    WHEN 2 THEN 32000 ELSE 48000 END AS INT) AS sample_rate,
           |  CAST(500 + ((${hd(5)} * 16 + ${hd(6)}) * 256 + (${hd(7)} * 16 + ${hd(8)})) % 60000 AS BIGINT) AS duration_ms
           |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,

      "q108_multimodal_video" ->
        s"""SELECT doc_id, CAST(232 AS BIGINT) AS n_bytes,
           |  CAST(160 + ((${hd(1)} * 16 + ${hd(2)}) * 256 + (${hd(3)} * 16 + ${hd(4)})) % 3681 AS INT) AS width,
           |  CAST(90 + ((${hd(5)} * 16 + ${hd(6)}) * 256 + (${hd(7)} * 16 + ${hd(8)})) % 2071 AS INT) AS height,
           |  CAST(1000 + ((${hd(9)} * 16 + ${hd(10)}) * 65536 + (${hd(11)} * 16 + ${hd(12)}) * 256 + (${hd(13)} * 16 + ${hd(14)})) % 600000 AS BIGINT) AS duration_ms
           |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,

      "q109_image_histogram" ->
        s"""WITH d AS (SELECT doc_id,
           |    CAST(8 + (${hd(1)} * 16 + ${hd(2)}) % 16 AS INT) AS w,
           |    CAST(8 + (${hd(3)} * 16 + ${hd(4)}) % 16 AS INT) AS h,
           |    CAST(${hd(5)} * 16 + ${hd(6)} AS INT) AS s0,
           |    CAST(1 + (${hd(7)} * 16 + ${hd(8)}) % 255 AS INT) AS s1
           |  FROM documents WHERE text IS NOT NULL),
           |px AS (SELECT doc_id, w * h AS npx, s0, s1,
           |    unnest(generate_series(0, w * h - 1)) AS i FROM d),
           |pc AS (SELECT doc_id, ((s0 + i * s1) % 256) // 16 AS bucket,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM px GROUP BY 1, 2),
           |b AS (SELECT doc_id, w * h AS npx,
           |    unnest(generate_series(0, 15)) AS bucket FROM d)
           |SELECT b.doc_id, CAST(b.bucket AS INT) AS bucket,
           |  round(CAST(coalesce(pc.c, 0) AS DOUBLE) / b.npx, 6) AS frac
           |FROM b LEFT JOIN pc ON pc.doc_id = b.doc_id AND pc.bucket = b.bucket
           |ORDER BY 1, 2""".stripMargin,

      "q110_decontaminate_bloom" ->
        s"""WITH tfp AS (
           |  SELECT DISTINCT md5(array_to_string($toks, ' ')) AS fp
           |  FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL)
           |SELECT doc_id, n_chars FROM documents
           |WHERE md5(array_to_string($toks, ' ')) IS NULL
           |   OR md5(array_to_string($toks, ' ')) NOT IN (SELECT fp FROM tfp)
           |ORDER BY doc_id""".stripMargin,

      "q111_bucketed_join" ->
        """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

      "q112_hyperplane_buckets" -> {
        // the same deterministic hyperplanes the Spark kernel uses,
        // baked into the SQL as double literals; addition stays
        // left-associated in both engines, so the sign bits agree
        // bit-for-bit
        val bits = (0 until 6).map { b =>
          val terms = (0 until 64).map { j =>
            val h = graft.text.HashEmbeddings.component(s"$b#$j", 0, 42L)
            s"CAST(embedding[${j + 1}] AS DOUBLE) * (${h})"
          }.mkString(" + ")
          s"(CASE WHEN $terms >= 0 THEN '1' ELSE '0' END)"
        }.mkString(" || ")
        s"""SELECT ($bits) AS bucket, CAST(count(*) AS BIGINT) AS n
           |FROM embeddings WHERE embedding IS NOT NULL
           |GROUP BY 1 ORDER BY bucket""".stripMargin
      },

      "q113_interval_join" ->
        """SELECT l.event_id AS click_id, r.event_id AS purchase_id
          |FROM events l JOIN events r ON l.user_id = r.user_id
          |  AND l.event_type = 'click' AND r.event_type = 'purchase'
          |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
          |ORDER BY 1, 2""".stripMargin,

      "q114_pca_isometry" ->
        """WITH c AS (SELECT c_custkey AS id,
          |    CAST(c_acctbal AS DOUBLE) / 1000.0 AS a,
          |    CAST(c_custkey AS DOUBLE) / 10.0 AS b
          |  FROM customer WHERE c_custkey <= 50)
          |SELECT l.id AS id_a, r.id AS id_b,
          |  round(sqrt((l.a - r.a) * (l.a - r.a) + (l.b - r.b) * (l.b - r.b)), 4) AS dist
          |FROM c l JOIN c r ON l.id < r.id
          |ORDER BY 1, 2""".stripMargin,

      "q115_bm25_scores" -> {
        val terms = Seq("spark", "shuffle", "hash", "merge", "window")
        s"""WITH ${bm25CtesSql(terms)}
           |SELECT doc_id, round(${bm25TotalSql(terms)}, 6) AS bm25,
           |  CAST(count(*) AS BIGINT) AS n_terms
           |FROM contrib GROUP BY 1 ORDER BY doc_id""".stripMargin
      },

      // Conjunctive retrieval replay: the same BM25 contrib chain,
      // AND realized as n_terms = |terms|, global top-20 on the
      // rounded score with the id tie-break.
      "q202_conjunctive_search" -> {
        val terms = Q202Terms
        s"""WITH ${bm25CtesSql(terms)},
           |agg AS (SELECT doc_id AS id, round(${bm25TotalSql(terms)}, 6) AS bm25,
           |    count(*) AS n_terms FROM contrib GROUP BY 1),
           |conj AS (SELECT id, bm25 FROM agg WHERE n_terms = ${terms.size})
           |SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, id ASC) AS INT)
           |    AS rank, id AS doc_id, bm25
           |FROM conj ORDER BY bm25 DESC, id ASC LIMIT 20""".stripMargin
      },

      // Phrase-search replay: per phrase, count window starts whose
      // fused token conjunction matches (overlaps count), hits only.
      "q203_phrase_search" -> {
        val branches = Q203Phrases.map { p =>
          val m = p.length
          val cond = p.zipWithIndex.map { case (w, i) =>
            s"t[j + $i] = '$w'" }.mkString(" AND ")
          s"""SELECT doc_id, '${p.mkString(" ")}' AS phrase,
             |  CAST(coalesce(list_sum(list_transform(
             |    range(1, CAST(len(t) AS INT) - $m + 2), j ->
             |      CASE WHEN $cond THEN 1 ELSE 0 END)), 0) AS BIGINT)
             |    AS n_occur FROM d""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH d AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents
           |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
           |pc AS ($branches)
           |SELECT doc_id, phrase, n_occur FROM pc WHERE n_occur > 0
           |ORDER BY doc_id, phrase""".stripMargin
      },

      "q116_hard_negatives" ->
        """WITH lab AS (SELECT e.vec_id, e.embedding, d.lang
          |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id)
          |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
          |  FROM (SELECT * FROM lab WHERE vec_id < 10) q
          |  JOIN lab c ON q.lang IS DISTINCT FROM c.lang)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      "q117_token_budget" ->
        s"""WITH b AS (SELECT doc_id, source,
           |    CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
           |    md5('budget0' || CAST(doc_id AS VARCHAR)) AS sk
           |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL),
           |c AS (SELECT doc_id, source, n_tokens,
           |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY sk, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM b)
           |SELECT doc_id, source, n_tokens, cum_tokens FROM c
           |WHERE cum_tokens - n_tokens < 2000 ORDER BY doc_id""".stripMargin,

      "q119_multimodal_flac" ->
        s"""SELECT doc_id, CAST(42 AS BIGINT) AS n_bytes,
           |  CAST(1 + ((${hd(3)} * 16 + ${hd(4)}) % 2) AS INT) AS channels,
           |  CAST(CASE ((${hd(1)} * 16 + ${hd(2)}) % 4)
           |    WHEN 0 THEN 8000 WHEN 1 THEN 16000
           |    WHEN 2 THEN 32000 ELSE 48000 END AS INT) AS sample_rate,
           |  CAST(500 + ((${hd(5)} * 16 + ${hd(6)}) * 256 + (${hd(7)} * 16 + ${hd(8)})) % 60000 AS BIGINT) AS duration_ms
           |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,

      "q121_url_parse" ->
        """WITH b AS (SELECT doc_id, md5(text) AS h,
          |    CASE (instr('0123456789abcdef', substr(md5(text), 13, 1)) - 1) % 4
          |      WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net'
          |      ELSE 'io' END AS tld,
          |    (instr('0123456789abcdef', substr(md5(text), 14, 1)) - 1) % 2 = 0 AS deep
          |  FROM documents WHERE text IS NOT NULL)
          |SELECT doc_id,
          |  'h' || substr(h, 1, 6) || '.' || tld AS host,
          |  tld,
          |  CASE WHEN deep THEN '/p' || substr(h, 7, 2) || '/q' || substr(h, 9, 2)
          |       ELSE '/p' || substr(h, 7, 2) END AS path,
          |  CAST(CASE WHEN deep THEN 2 ELSE 1 END AS INT) AS depth,
          |  'x=' || substr(h, 11, 2) AS query
          |FROM b ORDER BY doc_id""".stripMargin,

      "q122_asof_snapshot" ->
        """SELECT user_id, ts, event_id, event_type, value FROM (
          |  SELECT user_id, ts, event_id, event_type, value,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events
          |  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00' AND user_id IS NOT NULL)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,

      // Streaming admission replay: per-shard exact-sketch dedup (min
      // doc_id), band near-dup rejection vs the prior corpus, then
      // first-shard-wins sketch-equality suppression across shards —
      // the SQL twin of what the micro-batch run admits.
      "q123_streaming_admit" ->
        s"""WITH s AS (SELECT doc_id,
           |    CASE WHEN doc_id < 600 THEN 0 WHEN doc_id < 800 THEN 1
           |         ELSE 2 END AS batch,
           |    CAST(${simhashIntSql(toks, 64)} AS BIGINT) AS h
           |  FROM documents WHERE doc_id >= 400),
           |pd AS (SELECT batch, h, min(doc_id) AS doc_id
           |  FROM s GROUP BY 1, 2),
           |skp AS (SELECT doc_id AS id, CAST(${simhashIntSql(toks, 64)} AS BIGINT) AS h
           |  FROM documents WHERE doc_id < 400),
           |bp AS (SELECT id, h, b AS band, (h >> (b * 16)) & 65535 AS key
           |  FROM skp CROSS JOIN range(4) t(b)),
           |bi AS (SELECT doc_id, h, batch, b AS band, (h >> (b * 16)) & 65535 AS key
           |  FROM pd CROSS JOIN range(4) t(b)),
           |hit AS (SELECT DISTINCT l.doc_id FROM bi l JOIN bp r
           |  ON l.band = r.band AND l.key = r.key
           |  WHERE bit_count(xor(l.h, r.h)) <= 3),
           |surv AS (SELECT * FROM pd
           |  WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
           |adm AS (SELECT t.* FROM surv t WHERE NOT EXISTS (
           |  SELECT 1 FROM surv e WHERE e.h = t.h AND e.batch < t.batch))
           |SELECT doc_id, CAST(batch AS INT) AS batch FROM adm
           |ORDER BY doc_id""".stripMargin,

      // Streaming PSI replay: baseline deciles + smoothed bin probs
      // from the pre-split week (q67's quantile_cont convention), then
      // per-day windows of the live weeks scored with the engine's
      // exact smoothing and Σ (p−q)·ln(p/q) formula over ALL 10 bins.
      // The sentinel that flushes the engine's watermark lives past
      // the horizon — its window never closes, so it has no twin here.
      "q133_streaming_psi" -> {
        val binExpr = (1 to 9).map(i =>
          s"CASE WHEN r.v >= c.q$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH r AS (SELECT ts, value AS v FROM events
           |           WHERE value IS NOT NULL),
           |base AS (SELECT ts, v FROM r
           |         WHERE ts < TIMESTAMP '2024-01-08 00:00:00'),
           |c AS (SELECT ${(1 to 9).map(i =>
                   s"quantile_cont(v, 0.$i) AS q$i").mkString(", ")}
           |      FROM base),
           |nb AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
           |bc AS (SELECT $binExpr AS bin,
           |         CAST(count(*) AS DOUBLE) AS cnt
           |       FROM base r, c GROUP BY 1),
           |p AS (SELECT t.i AS bin,
           |        (coalesce(bc.cnt, 0) + 0.5) / (nb.n + 5.0) AS p
           |      FROM range(10) t(i)
           |      LEFT JOIN bc ON bc.bin = t.i CROSS JOIN nb),
           |live AS (SELECT date_trunc('day', r.ts) AS ws,
           |           $binExpr AS bin
           |         FROM r, c
           |         WHERE r.ts >= TIMESTAMP '2024-01-08 00:00:00'),
           |lc AS (SELECT ws, bin, CAST(count(*) AS DOUBLE) AS cnt
           |       FROM live GROUP BY 1, 2),
           |wn AS (SELECT ws, sum(cnt) AS n FROM lc GROUP BY ws),
           |sc AS (SELECT wn.ws, wn.n, p.p,
           |         (coalesce(lc.cnt, 0) + 0.5) / (wn.n + 5.0) AS q
           |       FROM wn CROSS JOIN p
           |       LEFT JOIN lc ON lc.ws = wn.ws AND lc.bin = p.bin)
           |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           |  CAST(n AS BIGINT) AS n,
           |  round(sum((p - q) * ln(p / q)), 6) AS psi
           |FROM sc GROUP BY ws, n ORDER BY window_start""".stripMargin
      },

      // Streaming near-dup replay (q123's tail without the prior-corpus
      // band stage): per-shard exact-sketch dedup (min doc_id wins),
      // then first-shard-wins sketch-equality suppression across shards.
      "q148_streaming_neardup" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}
           |            WHERE text IS NOT NULL),
           |s AS (SELECT doc_id,
           |    CASE WHEN doc_id < 200 THEN 0 WHEN doc_id < 400 THEN 1
           |         ELSE 2 END AS batch,
           |    CAST(${simhashIntSql(toks, 64)} AS BIGINT) AS h
           |  FROM dup),
           |pd AS (SELECT batch, h, min(doc_id) AS doc_id
           |  FROM s GROUP BY 1, 2),
           |adm AS (SELECT t.* FROM pd t WHERE NOT EXISTS (
           |  SELECT 1 FROM pd e WHERE e.h = t.h AND e.batch < t.batch))
           |SELECT doc_id, CAST(batch AS INT) AS batch FROM adm
           |ORDER BY doc_id""".stripMargin,

      // Streaming value_counts replay: every real per-day window closes
      // under the sentinel-advanced watermark, so the emitted stream
      // must equal the batch GROUP BY day × event_type — the sentinel's
      // own window never closes and has no twin here.
      "q149_streaming_value_counts" ->
        """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
          |  event_type, CAST(count(*) AS BIGINT) AS cnt
          |FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // MVN text-generator replay (deterministic mode): md5 Irwin-Hall
      // pseudo-normals, the inlined (mean, L) literals, then q35's
      // capped-vocab decode — per slot the best (cosine desc, word asc)
      // vocab word, md5 component embeddings replayed via hash31.
      "q150_mvn_text_decode" -> q150Sql,
      "q159_synthetic_deterministic" -> q159Sql,

      // q32 distributional verdict (r11 verdict #6): the seeded
      // production pipeline's validation readout must say every
      // generated orders column is within the spec-enforced moment
      // bands at exactly nSamples rows. The expected column/type set
      // is the strict-format detection of the orders table (pinned:
      // a detection change is a signal, not noise). The samplers
      // themselves stay non-SQL-expressible — the deterministic twin
      // q159 carries the value-level hash.
      "q32_synthetic_pipeline" ->
        """SELECT col_name, semantic_type,
          |  CAST(1000 AS BIGINT) AS n_rows, true AS within_band
          |FROM (VALUES
          |  ('o_custkey', 'integer'), ('o_orderdate', 'datetime'),
          |  ('o_orderkey', 'integer'), ('o_orderpriority', 'categorical'),
          |  ('o_orderstatus', 'categorical'), ('o_totalprice', 'float'))
          |  AS t(col_name, semantic_type)
          |ORDER BY col_name""".stripMargin,
      "q160_plot_svg" -> q160Sql,
      "q161_fasttext_classify" -> q161Sql,

      // KMV bottom-k replay: the global bottom-k of each column's
      // distinct md5 digests IS the merged sketch (the KMV merge
      // property), so rank-and-keep-k over the distinct digest set
      // reproduces n_kept, the kth hash, and the (k−1)/frac estimate
      // digit-for-digit.
      "q162_kmv_distinct" -> {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
        val src = cols.map(c =>
          s"SELECT '$c' AS col_name, md5(CAST($c AS VARCHAR)) AS h FROM lineitem WHERE $c IS NOT NULL")
          .mkString("\n  UNION ALL ")
        s"""WITH src AS ($src),
           |d AS (SELECT DISTINCT col_name, h FROM src),
           |r AS (SELECT col_name, h,
           |        row_number() OVER (PARTITION BY col_name ORDER BY h) AS rk FROM d),
           |kk AS (SELECT col_name, CAST(count(*) AS INT) AS n_kept, max(h) AS kth_hash
           |       FROM r WHERE rk <= 256 GROUP BY 1)
           |SELECT col_name, CAST(256 AS INT) AS k, n_kept, kth_hash,
           |  round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
           |             ELSE 255.0 / ${Sketch.kmvFracSql("kth_hash")} END, 6) AS est
           |FROM kk ORDER BY col_name""".stripMargin
      },

      // Count–min replay: each depth row's bucket is the 28-bit md5
      // prefix of the salted item mod width, decoded positionally.
      "q163_countmin_sketch" -> {
        val rows = (0 until 4).map(r =>
          s"SELECT $r AS r, ${Sketch.cmBucketSql("item", r, 64, "cm")} AS b FROM toks")
          .mkString("\n  UNION ALL ")
        s"""WITH toks AS (SELECT unnest(${toksSql("text")}) AS item
           |  FROM documents WHERE text IS NOT NULL),
           |e AS ($rows)
           |SELECT CAST(r AS INT) AS r, b, CAST(count(*) AS BIGINT) AS cnt
           |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      },

      // CM point-estimate replay: min over depth rows of the bucket
      // counters for the exact top-20 tokens; overcount = est − truth.
      "q164_countmin_estimate" -> {
        val rows = (0 until 4).map(r =>
          s"SELECT $r AS r, ${Sketch.cmBucketSql("item", r, 64, "cm")} AS b FROM toks")
          .mkString("\n  UNION ALL ")
        val probe = (0 until 4).map(r =>
          s"SELECT item, true_cnt, $r AS r, ${Sketch.cmBucketSql("item", r, 64, "cm")} AS b FROM truth")
          .mkString("\n  UNION ALL ")
        s"""WITH toks AS (SELECT unnest(${toksSql("text")}) AS item
           |  FROM documents WHERE text IS NOT NULL),
           |sk AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt
           |       FROM ($rows) GROUP BY 1, 2),
           |truth AS (SELECT item, CAST(count(*) AS BIGINT) AS true_cnt FROM toks
           |          GROUP BY 1 ORDER BY true_cnt DESC, item ASC LIMIT 20),
           |pr AS ($probe),
           |est AS (SELECT item, min(coalesce(cnt, 0)) AS est
           |        FROM pr LEFT JOIN sk USING (r, b) GROUP BY 1)
           |SELECT t.item, t.true_cnt, e.est, e.est - t.true_cnt AS overcount
           |FROM truth t JOIN est e USING (item) ORDER BY item""".stripMargin
      },

      // RRF replay: the two rankers' global ranks (row_number by score
      // desc, id asc — the same tie-break as the engine), top-50 each,
      // fused as coalesce(1/(60+r_bm25),0) + coalesce(1/(60+r_cos),0)
      // in that fixed order.
      "q165_rrf_hybrid" -> {
        val terms = Seq("spark", "shuffle", "hash", "merge", "window")
        val k1 = 1.2; val b = 0.75
        val inL = terms.map(t => s"'$t'").mkString(", ")
        val total = terms.map(t =>
          s"coalesce(max(CASE WHEN term = '$t' THEN c END), 0.0)").mkString(" + ")
        s"""WITH base AS (SELECT doc_id, ${toksSql("text")} AS w FROM documents),
           |lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
           |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    avg(CAST(dl AS DOUBLE)) AS avgdl FROM lens),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(w) AS term FROM base)
           |  WHERE term IN ($inL) GROUP BY 1, 2),
           |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           |contrib AS (SELECT doc_id, term,
           |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
           |      (tf * ${k1 + 1.0}) /
           |      (tf + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) / avgdl)) AS c
           |  FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id)
           |  CROSS JOIN stats),
           |bm AS (SELECT doc_id AS id, round($total, 6) AS score
           |       FROM contrib GROUP BY 1),
           |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS r FROM bm),
           |bmc AS (SELECT id, 1.0 / (60.0 + CAST(r AS DOUBLE)) AS c0 FROM bmr WHERE r <= 50),
           |dn AS (SELECT e.vec_id AS id,
           |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS s
           |  FROM embeddings e
           |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q),
           |dnr AS (SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS r FROM dn),
           |dnc AS (SELECT id, 1.0 / (60.0 + CAST(r AS DOUBLE)) AS c1 FROM dnr WHERE r <= 50)
           |SELECT coalesce(b.id, d.id) AS doc_id,
           |  round(coalesce(b.c0, 0.0) + coalesce(d.c1, 0.0), 6) AS rrf,
           |  CAST((CASE WHEN b.c0 IS NOT NULL THEN 1 ELSE 0 END) +
           |       (CASE WHEN d.c1 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_rankers
           |FROM bmc b FULL OUTER JOIN dnc d ON b.id = d.id
           |ORDER BY rrf DESC, doc_id ASC""".stripMargin
      },

      // Chunk-dedup-rewrite replay: same ⌈len/12⌉ non-overlapping
      // chunking as q55's passage form, first (doc, idx) occurrence
      // per fingerprint wins, survivors re-joined in position order.
      "q166_chunk_dedup" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
           |base AS (SELECT doc_id, ${toksSql("text")} AS w FROM dup WHERE doc_id IS NOT NULL),
           |ch AS (SELECT doc_id, i AS idx,
           |    array_to_string(w[i*12+1 : i*12+12], ' ') AS chunk
           |  FROM (SELECT doc_id, w,
           |          unnest(range(((len(w) - 1) // 12) + 1)) AS i
           |        FROM base WHERE len(w) > 0)),
           |k AS (SELECT doc_id, idx, chunk,
           |    row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
           |  FROM ch),
           |per AS (SELECT doc_id,
           |    CAST(count(*) AS BIGINT) AS n_chunks,
           |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |    string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY idx) AS text_clean
           |  FROM k GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
           |  CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept,
           |  coalesce(p.text_clean, '') AS text_clean
           |FROM (SELECT DISTINCT doc_id FROM dup WHERE doc_id IS NOT NULL) d
           |LEFT JOIN per p USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      // Bigram-LM replay: q56's ladder one Markov order up — bigram
      // counts from the even-id half, context counts derived from
      // them, V = train unigram vocab, add-one smoothing.
      "q167_bigram_logprob" -> {
        val toks = toksSql("text")
        val bgs = s"unnest(list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2]))"
        s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents WHERE doc_id IS NOT NULL),
           |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM (
           |    SELECT $bgs AS bg FROM base WHERE doc_id % 2 = 0 AND len(w) >= 2)
           |  GROUP BY 1),
           |cx AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
           |       FROM bc GROUP BY 1),
           |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
           |       FROM (SELECT unnest(w) AS tok FROM base WHERE doc_id % 2 = 0)),
           |tf AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf FROM (
           |    SELECT doc_id, $bgs AS bg FROM base WHERE len(w) >= 2)
           |  GROUP BY 1, 2),
           |sc AS (SELECT t.doc_id,
           |    CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
           |    sum(CAST(t.tf AS DOUBLE) *
           |        ln(CAST(coalesce(b.c12, 0) + 1 AS DOUBLE) /
           |           CAST(coalesce(x.c1, 0) + v.v AS DOUBLE)))
           |      / CAST(sum(t.tf) AS DOUBLE) AS avg_logp
           |  FROM tf t LEFT JOIN bc b USING (bg)
           |  LEFT JOIN cx x ON x.w1 = split_part(t.bg, ' ', 1)
           |  CROSS JOIN vv v GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |  round(coalesce(sc.avg_logp, 0.0), 6) AS avg_logp
           |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL) d
           |LEFT JOIN sc USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },

      // HLL replay: bucket/rank from positional md5 decode, register
      // maxes, the exact-integer Z accumulator, and both estimator
      // regimes (raw α·m²/Z and linear counting) re-derived in SQL.
      "q169_hll_distinct" -> {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
        val src = cols.map(c =>
          s"SELECT '$c' AS col_name, md5(CAST($c AS VARCHAR)) AS h FROM lineitem WHERE $c IS NOT NULL")
          .mkString("\n  UNION ALL ")
        val twoTo49 = s"(CAST(1 AS BIGINT) << 49)"
        s"""WITH src AS ($src),
           |reg AS (SELECT col_name,
           |    CAST(${Sketch.hexIntSql("h", 1, 2)} AS INT) AS bucket,
           |    ${Sketch.hexIntSql("h", 3, 12)} AS w
           |  FROM src),
           |mr AS (SELECT col_name, bucket,
           |    max(49 - length(ltrim(bin(w), '0'))) AS mrank
           |  FROM reg GROUP BY 1, 2),
           |sm AS (SELECT col_name, CAST(count(*) AS INT) AS n_buckets,
           |    CAST(max(mrank) AS INT) AS max_rank,
           |    sum(CAST(1 AS BIGINT) << CAST(49 - mrank AS INT)) AS s_present
           |  FROM mr GROUP BY 1),
           |est AS (SELECT *,
           |    (${Sketch.hllAlphaM2Literal} * CAST($twoTo49 AS DOUBLE)) /
           |      CAST(s_present + (256 - CAST(n_buckets AS BIGINT)) * $twoTo49 AS DOUBLE) AS raw
           |  FROM sm)
           |SELECT col_name, CAST(256 AS INT) AS m, n_buckets, max_rank,
           |  round(CASE WHEN raw <= 640.0 AND (256 - n_buckets) > 0
           |    THEN 256.0 * ln(256.0 / CAST(256 - n_buckets AS DOUBLE))
           |    ELSE raw END, 6) AS est
           |FROM est ORDER BY col_name""".stripMargin
      },

      // Char-entropy replay: same sorted-distinct left fold — the
      // engine's (0+t1)+t2+… and the oracle's first-element fold agree
      // bit-for-bit because 0.0 + x = x exactly.
      "q170_char_entropy" ->
        """WITH base AS (SELECT doc_id, coalesce(text, '') AS t
          |  FROM documents WHERE doc_id IS NOT NULL),
          |c AS (SELECT doc_id, len(t) AS n,
          |    list_transform(range(1, len(t) + 1), i -> substr(t, i, 1)) AS chars
          |  FROM base)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
          |  round(CASE WHEN n > 0 THEN 0.0 - list_reduce(
          |      list_transform(list_sort(list_distinct(chars)),
          |        d -> (CAST(len(list_filter(chars, x -> x = d)) AS DOUBLE) / CAST(n AS DOUBLE)) *
          |             ln(CAST(len(list_filter(chars, x -> x = d)) AS DOUBLE) / CAST(n AS DOUBLE))),
          |      (a, b) -> a + b)
          |    ELSE 0.0 END, 6) AS entropy
          |FROM c ORDER BY doc_id""".stripMargin,

      // Grouped-HLL replay: q169's ladder keyed on the group column.
      "q172_hll_by_group" ->
        s"""WITH src AS (SELECT event_type AS g, md5(CAST(user_id AS VARCHAR)) AS h
           |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
           |$hllSqlTail
           |SELECT g AS event_type, m, n_buckets, max_rank, est
           |FROM fin ORDER BY 1""".stripMargin,

      // KMV set-operation replay: per-set distinct-digest bottom-k,
      // merged bottom-k, membership flags, and the three estimators
      // from the identical unrounded expressions.
      "q173_kmv_jaccard" -> {
        val frac = Sketch.kmvFracSql("kth_hash")
        s"""WITH base AS (SELECT doc_id, unnest(${toksSql("text")}) AS tok
           |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
           |ha AS (SELECT h FROM (SELECT DISTINCT md5(tok) AS h FROM base WHERE doc_id % 2 = 0)
           |       ORDER BY h LIMIT 256),
           |hb AS (SELECT h FROM (SELECT DISTINCT md5(tok) AS h FROM base WHERE doc_id % 2 = 1)
           |       ORDER BY h LIMIT 256),
           |u AS (SELECT h FROM (SELECT DISTINCT h FROM
           |        (SELECT h FROM ha UNION ALL SELECT h FROM hb))
           |      ORDER BY h LIMIT 256),
           |ag AS (SELECT CAST(count(*) AS INT) AS n_kept, max(u.h) AS kth_hash,
           |    CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_common
           |  FROM u LEFT JOIN ha a ON u.h = a.h LEFT JOIN hb b ON u.h = b.h)
           |SELECT CAST(256 AS INT) AS k, n_kept, kth_hash,
           |  round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
           |        ELSE 255.0 / $frac END, 6) AS d_union_est,
           |  n_common,
           |  round(CAST(n_common AS DOUBLE) / CAST(n_kept AS DOUBLE), 6) AS jaccard_est,
           |  round((CAST(n_common AS DOUBLE) / CAST(n_kept AS DOUBLE)) *
           |        (CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
           |         ELSE 255.0 / $frac END), 6) AS d_intersect_est
           |FROM ag""".stripMargin
      },

      // Streaming-HLL replay: the max-merge of per-trigger register
      // updates IS the batch register table (HLL union), so the batch
      // sketch of the whole stream is the oracle.
      "q174_streaming_hll" ->
        s"""WITH src AS (SELECT 0 AS g, md5(CAST(user_id AS VARCHAR)) AS h
           |  FROM events WHERE user_id IS NOT NULL),
           |$hllSqlTail
           |SELECT m, n_buckets, max_rank, est FROM fin""".stripMargin,

      // MAD replay: identical rank-picked lower medians (integer floor
      // division both sides), |x−med| deviations, k·MAD fence.
      "q177_mad_outliers" ->
        """WITH b AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
          |c AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
          |    count(*) OVER (PARTITION BY g) AS n FROM b),
          |med AS (SELECT g, v AS med FROM c WHERE rk = (n + 1) // 2),
          |dev AS (SELECT b.g, b.v, abs(b.v - med.med) AS d, med.med
          |  FROM b JOIN med ON b.g = med.g),
          |dc AS (SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY d) AS rk,
          |    count(*) OVER (PARTITION BY g) AS n FROM dev),
          |mad AS (SELECT g, d AS mad FROM dc WHERE rk = (n + 1) // 2)
          |SELECT dev.g AS event_type, CAST(count(*) AS BIGINT) AS n,
          |  round(max(dev.med), 6) AS median, round(max(mad.mad), 6) AS mad,
          |  CAST(sum(CASE WHEN dev.d > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_outliers,
          |  round(CAST(sum(CASE WHEN dev.d > 3.0 * mad.mad THEN 1 ELSE 0 END) AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE), 6) AS outlier_frac
          |FROM dev JOIN mad ON dev.g = mad.g
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      // Domain-cap replay: same md5-derived host pieces; the
      // registrable domain is dlabel.suffix by construction (the
      // subdomain never survives extraction), so the oracle ranks
      // directly on it.
      "q178_domain_cap" ->
        s"""WITH b AS (SELECT doc_id, n_chars,
           |    'd' || substr(md5(text), 1, 1) ||  '.' ||
           |    CASE ${hd(2)} % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
           |      WHEN 2 THEN 'co.uk' ELSE 'com.au' END AS domain
           |  FROM documents WHERE text IS NOT NULL),
           |r AS (SELECT doc_id AS id, domain, n_chars AS score,
           |    CAST(row_number() OVER (PARTITION BY domain
           |      ORDER BY n_chars DESC, doc_id) AS INT) AS rnk
           |  FROM b)
           |SELECT id, domain, score, rnk FROM r WHERE rnk <= 4
           |ORDER BY domain, rnk""".stripMargin,

      // NFC-clean replay: identical raw construction (chr() for the
      // control char and combining marks), then utf8proc
      // nfc_normalize + the same strip/collapse/trim regex ladder.
      "q179_nfc_clean" -> {
        val clean = "trim(regexp_replace(regexp_replace(nfc_normalize(raw), " +
          "'[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g'), '[ \\t]+', ' ', 'g'))"
        s"""WITH r AS (SELECT doc_id,
           |    substr(text, 1, 12) || chr(7) || ' ' ||
           |    CASE ${hd(4)} % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'e'
           |      ELSE 'o' END ||
           |    CASE ${hd(5)} % 3 WHEN 0 THEN chr(769) WHEN 1 THEN chr(768)
           |      ELSE chr(776) END ||
           |    chr(9) || ' x' || chr(13) || '  tail ' AS raw
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT doc_id, CAST(length(raw) AS INT) AS n_raw,
           |  $clean AS cleaned, CAST(length($clean) AS INT) AS n_clean
           |FROM r ORDER BY doc_id""".stripMargin
      },

      // Soft-dedup replay: cluster key is the token-normalized
      // 8-char truncation (the fingerprint preimage); weight is the
      // exact 1/count division.
      "q180_soft_dedup" ->
        s"""WITH b AS (SELECT doc_id AS id,
           |    array_to_string(${toksSql("substr(text, 1, 8)")}, ' ') AS k
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT id, count(*) OVER (PARTITION BY k) AS dup_count,
           |  CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY k) AS weight
           |FROM b ORDER BY id""".stripMargin,

      // FIM replay: 16-bit md5 gate on (seed,id), 48-bit cut draws
      // from the text digest mod (len+1), identical substr arithmetic
      // and PSM sentinel layout.
      "q181_fim_split" -> {
        val gate = graft.ops.Sketch.hexIntSql(
          "md5('fim0' || CAST(doc_id AS VARCHAR))", 1, 4)
        val a = graft.ops.Sketch.hexIntSql("md5(text)", 1, 12)
        val b = graft.ops.Sketch.hexIntSql("md5(text)", 13, 12)
        s"""WITH r AS (SELECT doc_id, text, length(text) AS len,
           |    $gate < 32768 AS is_fim,
           |    least($a % (length(text) + 1), $b % (length(text) + 1)) AS i,
           |    greatest($a % (length(text) + 1), $b % (length(text) + 1)) AS j
           |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
           |SELECT doc_id AS id, is_fim,
           |  CASE WHEN is_fim THEN i END AS cut_i,
           |  CASE WHEN is_fim THEN j END AS cut_j,
           |  CASE WHEN is_fim THEN
           |    '<PRE>' || substr(text, 1, i) || '<SUF>' ||
           |    substr(text, j + 1, len - j) || '<MID>' ||
           |    substr(text, i + 1, j - i)
           |  ELSE text END AS out
           |FROM r ORDER BY id""".stripMargin
      },

      // Histogram-sketch replay: same two-pass frame, the identical
      // divide-then-scale bin expression, RANGE cumulative sum over
      // unique bins, and the pinned interpolation order.
      "q182_hist_quantiles" -> histQuantilesSql(
        "NOT isnan(CAST(l_extendedprice AS DOUBLE))", 256,
        Seq(0.01, 0.25, 0.5, 0.75, 0.99)),

      // Per-group histogram-quantile replay: q182's ladder with the
      // group key threaded through frame, bins, cumulative window,
      // and pick — same bin formula, same interpolation.
      "q209_hist_quantiles_by" ->
        """WITH x AS (SELECT l_returnflag AS g,
          |    CAST(l_extendedprice AS DOUBLE) AS x
          |    FROM lineitem WHERE l_returnflag IS NOT NULL
          |      AND l_extendedprice IS NOT NULL
          |      AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
          |f AS (SELECT g, min(x) AS lo, max(x) AS hi, count(*) AS n
          |    FROM x GROUP BY g),
          |b AS (SELECT x.g, CASE WHEN f.hi = f.lo THEN 0
          |      ELSE least(greatest(CAST(floor((x.x - f.lo) / (f.hi - f.lo) * 64)
          |        AS BIGINT), 0), 63) END AS bin
          |    FROM x JOIN f ON x.g = f.g),
          |c AS (SELECT g, bin, count(*) AS cnt FROM b GROUP BY g, bin),
          |cc AS (SELECT g, bin, cnt,
          |    sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum FROM c),
          |qs AS (SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
          |    CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q),
          |t AS (SELECT f.g, q, n, lo, hi,
          |    greatest(CAST(ceil(q * n) AS BIGINT), 1) AS target_rank
          |  FROM qs, f),
          |pick AS (SELECT t.g, t.q, t.n, t.lo, t.hi, t.target_rank,
          |    min(cc.bin) AS bin
          |  FROM t JOIN cc ON cc.g = t.g AND cc.cum >= t.target_rank
          |  GROUP BY 1, 2, 3, 4, 5, 6)
          |SELECT p.g AS l_returnflag, p.q, p.n, p.target_rank, p.bin,
          |  p.lo + (p.bin + CAST(p.target_rank - (cc.cum - cc.cnt) AS DOUBLE)
          |    / cc.cnt) * ((p.hi - p.lo) / 64) AS est
          |FROM pick p JOIN cc ON cc.g = p.g AND cc.bin = p.bin
          |ORDER BY l_returnflag, p.q""".stripMargin,

      // Retrieval-metrics replay: exact truth (brute-force CTE) +
      // the q30 IVF chain, then the same left join, sorted-hit-list
      // DCG fold (list_reduce starts at the first gain — equal to
      // the 0.0-seeded left fold because 0.0 + x = x), and exact
      // recall/MRR divisions.
      "q183_retrieval_metrics" -> {
        val gainFold = (l: String) =>
          s"CASE WHEN coalesce(len($l), 0) = 0 THEN 0.0 ELSE list_reduce(" +
            s"list_transform($l, r -> ln(2) / ln(r + 1.0)), (a, x) -> a + x) END"
        s"""WITH corpus AS (SELECT * FROM embeddings WHERE vec_id >= 5),
           |q AS (SELECT * FROM embeddings WHERE vec_id < 5),
           |tr AS (SELECT query_id, neighbor_id, rank AS t_rank FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
           |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
           |  FROM q CROSS JOIN corpus c) WHERE rank <= 10),
           |cent AS (SELECT vec_id AS centroid_id, embedding AS cv
           |  FROM corpus ORDER BY vec_id LIMIT 16),
           |assigned AS (
           |  SELECT vec_id AS id, centroid_id, embedding AS vec FROM (
           |    SELECT c.vec_id, ct.centroid_id, c.embedding,
           |      row_number() OVER (PARTITION BY c.vec_id
           |        ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
           |          CAST(ct.cv AS DOUBLE[])) DESC, ct.centroid_id ASC) AS rn
           |    FROM corpus c CROSS JOIN cent ct)
           |  WHERE rn = 1),
           |probes AS (
           |  SELECT vec_id AS query_id, embedding AS qv, centroid_id FROM (
           |    SELECT q.vec_id, q.embedding, ct.centroid_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
           |          CAST(ct.cv AS DOUBLE[])) DESC, ct.centroid_id ASC) AS rn
           |    FROM q CROSS JOIN cent ct)
           |  WHERE rn <= 4),
           |re AS (SELECT query_id, neighbor_id, rank AS r_rank FROM (
           |  SELECT p.query_id, a.id AS neighbor_id,
           |    row_number() OVER (PARTITION BY p.query_id
           |      ORDER BY list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
           |        CAST(a.vec AS DOUBLE[])) DESC, a.id ASC) AS rank
           |  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id)
           |  WHERE rank <= 10),
           |nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
           |  FROM tr GROUP BY 1),
           |j AS (SELECT re.query_id, re.r_rank, tr.t_rank
           |  FROM re LEFT JOIN tr ON re.query_id = tr.query_id
           |    AND re.neighbor_id = tr.neighbor_id),
           |pq AS (SELECT query_id,
           |    CAST(sum(CASE WHEN t_rank IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_hits,
           |    min(CASE WHEN t_rank IS NOT NULL THEN r_rank END) AS first_hit,
           |    list_sort(list(r_rank) FILTER (WHERE t_rank IS NOT NULL))
           |      AS hit_ranks
           |  FROM j GROUP BY 1)
           |SELECT p.query_id, nt.n_truth, p.n_hits,
           |  round(CAST(p.n_hits AS DOUBLE) / nt.n_truth, 6) AS recall,
           |  round(coalesce(CAST(1.0 AS DOUBLE) / p.first_hit, 0.0), 6) AS mrr,
           |  round(${gainFold("p.hit_ranks")}, 6) AS dcg,
           |  round(${gainFold("p.hit_ranks")} /
           |    ${gainFold("range(1, least(nt.n_truth, 10) + 1)")}, 6) AS ndcg
           |FROM pq p JOIN nt ON p.query_id = nt.query_id
           |ORDER BY p.query_id""".stripMargin
      },

      // Fertility replay: the 10-stage BPE CTE chain (shared with
      // q155/q156), piece counts from the final segmentation,
      // integer sums, two exact final divisions.
      "q184_bpe_fertility" ->
        s"""WITH ${bpeStagesSql(10)},
           |enc AS (SELECT w,
           |    CAST(len(string_split(trim(st, '><'), '><')) AS BIGINT)
           |      AS n_pieces
           |  FROM v10),
           |gw AS (SELECT lang AS g, tok AS w, CAST(count(*) AS BIGINT) AS cnt
           |  FROM (SELECT lang, unnest(${toksSql("text")}) AS tok
           |        FROM documents WHERE lang IS NOT NULL)
           |  GROUP BY 1, 2),
           |ag AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_words,
           |    CAST(sum(cnt * n_pieces) AS BIGINT) AS n_pieces,
           |    CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars
           |  FROM gw JOIN enc USING (w) GROUP BY 1)
           |SELECT g AS lang, n_words, n_pieces,
           |  round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS pieces_per_word,
           |  round(CAST(n_chars AS DOUBLE) / n_pieces, 6) AS chars_per_piece
           |FROM ag ORDER BY lang""".stripMargin,

      // Whitening replay: exact decimal moment sums, the pinned
      // covariance/Cholesky/substitution association order, lateral
      // aliases carrying each L entry and y component.
      "q185_whiten_embeddings" -> {
        val d = 4
        val xs = (0 until d).map(i =>
          s"CAST(embedding[${i + 1}] AS DOUBLE) AS x$i").mkString(", ")
        val s1 = (0 until d).map(i =>
          s"sum(CAST(x$i AS DECIMAL(38,12))) AS s1_$i").mkString(", ")
        val s2 = (for { i <- 0 until d; j <- i until d } yield
          s"sum(CAST(x$i * x$j AS DECIMAL(38,12))) AS s2_${i}_$j")
          .mkString(", ")
        val ms = (0 until d).map(i =>
          s"CAST(s1_$i AS DOUBLE) / n AS m$i").mkString(", ")
        def cN(i: Int, j: Int) = if (i <= j) s"c_${i}_$j" else s"c_${j}_$i"
        val cs = (for { i <- 0 until d; j <- i until d } yield
          s"(CAST(s2_${i}_$j AS DOUBLE) - CAST(s1_$i AS DOUBLE) * " +
            s"CAST(s1_$j AS DOUBLE) / n) / (n - 1) AS c_${i}_$j")
          .mkString(", ")
        val ls = (for { i <- 0 until d; j <- 0 to i } yield {
          val acc = new StringBuilder(cN(i, j))
          for (k <- 0 until j) acc.insert(0, "(").append(
            s" - l_${i}_$k * l_${j}_$k)")
          val e = if (i == j) s"sqrt($acc)" else s"$acc / l_${j}_$j"
          s"$e AS l_${i}_$j"
        }).mkString(", ")
        val ys = (0 until d).map { i =>
          val acc = new StringBuilder(s"(x$i - m$i)")
          for (k <- 0 until i) acc.insert(0, "(").append(
            s" - l_${i}_$k * yy$k)")
          s"$acc / l_${i}_$i AS yy$i"
        }.mkString(", ")
        s"""WITH x AS (SELECT vec_id AS id, $xs
           |  FROM embeddings
           |  WHERE embedding IS NOT NULL AND len(embedding) >= $d),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS n, $s1, $s2 FROM x),
           |c AS (SELECT n, $ms, $cs FROM s),
           |l AS (SELECT *, $ls FROM c),
           |y AS (SELECT id, $ys FROM x, l)
           |SELECT id AS vec_id,
           |  ${(0 until d).map(i => s"round(yy$i, 6) AS y${i + 1}")
                .mkString(", ")}
           |FROM y ORDER BY vec_id""".stripMargin
      },

      // Epochs replay: the q87 temperature-share chain, shares
      // entering the budget arithmetic ROUNDED exactly as the engine
      // emits them.
      "q186_token_epochs" ->
        """WITH g AS (SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n_docs,
          |             CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS tokens
          |           FROM documents WHERE lang IS NOT NULL GROUP BY 1),
          |t AS (SELECT coalesce(sum(pow(CAST(tokens AS DOUBLE), 0.5)), 0.0) AS z
          |      FROM g),
          |r AS (SELECT g.domain, g.tokens,
          |        round(CASE WHEN z > 0
          |          THEN pow(CAST(tokens AS DOUBLE), 0.5) / z
          |          ELSE CAST(0.0 AS DOUBLE) END, 6) AS ts
          |      FROM g, t)
          |SELECT domain AS lang, tokens, ts AS target_share,
          |  round(ts * CAST(300000 AS DOUBLE), 6) AS budget_tokens,
          |  round(least(ts * CAST(300000 AS DOUBLE) / CAST(tokens AS DOUBLE),
          |    CAST(4 AS DOUBLE)), 6) AS epochs,
          |  round(least(ts * CAST(300000 AS DOUBLE),
          |    CAST(tokens AS DOUBLE) * CAST(4 AS DOUBLE)), 6)
          |    AS effective_tokens,
          |  ts * CAST(300000 AS DOUBLE) >
          |    CAST(tokens AS DOUBLE) * CAST(4 AS DOUBLE) AS truncated
          |FROM r ORDER BY lang""".stripMargin,

      // Streaming-histq replay: the update-mode state max-merges to
      // the plain batch bin table, so the batch sketch of the same
      // subset (64 bins, known frame) is the oracle.
      "q187_streaming_histq" -> histQuantilesSql(
        "l_orderkey % 20 = 0", 64, Seq(0.25, 0.5, 0.9, 0.99)),

      // Streaming count–min replay: update-mode counters max-merge to
      // the plain batch sketch, so the batch CM of the same token
      // stream (salt cm9) is the oracle.
      "q188_streaming_countmin" -> {
        val rows = (0 until 4).map(r =>
          s"SELECT $r AS r, ${Sketch.cmBucketSql("item", r, 64, "cm9")} AS b FROM toks")
          .mkString("\n  UNION ALL ")
        s"""WITH toks AS (SELECT unnest(${toksSql("text")}) AS item
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT r, CAST(b AS INT) AS b, CAST(count(*) AS BIGINT) AS cnt
           |FROM ($rows) GROUP BY 1, 2 ORDER BY r, b""".stripMargin
      },

      // LSH calibration replay: same divisor grid, same two pow()
      // forms, rounded at 6 both sides.
      "q189_lsh_calibration" ->
        """WITH cfg AS (SELECT * FROM (VALUES (1, 16), (2, 8), (4, 4),
          |    (8, 2), (16, 1)) AS t(bands, rows_per_band)),
          |sv AS (SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.3 AS DOUBLE),
          |    CAST(0.5 AS DOUBLE), CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE),
          |    CAST(0.9 AS DOUBLE)]) AS s)
          |SELECT CAST(16 AS INT) AS n_hashes, CAST(bands AS INT) AS bands,
          |  CAST(rows_per_band AS INT) AS rows_per_band, s,
          |  round(CAST(1.0 AS DOUBLE) -
          |    pow(CAST(1.0 AS DOUBLE) - pow(s, rows_per_band), bands), 6)
          |    AS p_detect,
          |  round(pow(CAST(1.0 AS DOUBLE) / bands,
          |    CAST(1.0 AS DOUBLE) / rows_per_band), 6) AS s50
          |FROM cfg, sv ORDER BY bands, s""".stripMargin,

      // KNN-density replay: rank over ALL neighbors (self included,
      // exactly the engine's rank space), drop self, rank-sorted
      // 10-slice, 0-seeded left fold, one division. The QUERY side
      // replays the engine's certification-sample contract dynamically
      // (r14): stride 1 under the 2048-query gate (bench corpora —
      // identical to the unsampled replay), ceil(n/2048) id-stride
      // above, so the sf1 sweep value-checks the sampled ground truth
      // instead of timing out on the full n² window.
      "q194_knn_density" ->
        s"""WITH qs AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL
           |  AND vec_id % (SELECT CASE WHEN count(*) <= 2048 THEN 1
           |                            ELSE (count(*) + 2047) // 2048 END
           |                FROM embeddings WHERE embedding IS NOT NULL) = 0),
           |r0 AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
           |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
           |      CAST(c.embedding AS DOUBLE[])) AS sim,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
           |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
           |  FROM qs q CROSS JOIN embeddings c),
           |nb AS (SELECT qid, rank, sim FROM r0
           |  WHERE rank <= 11 AND nid <> qid),
           |$densityReadoffSql""".stripMargin,

      // Production-route density replay: q147's int8→IVF CTEs with
      // queries = corpus = the whole table (self-retrieval, k=11),
      // then q194's density read-off (drop self, rank-sorted 10-slice,
      // 0-seeded left fold). Certifies the gated composition the
      // corpus-scale pass runs — no quadratic kernel anywhere.
      "q195_knn_density_ivf" ->
        s"""WITH ${int8QuantizedSql("amx", "sc")},
           |n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM qz),
           |cent AS (SELECT vec_id AS centroid_id, qv AS cv, nrm AS cn
           |         FROM n ORDER BY vec_id
           |         LIMIT (SELECT CASE WHEN count(*) <= 2048 THEN 16
           |                            WHEN (count(*) + 124) // 125 <= 4096
           |                            THEN greatest(16, (count(*) + 124) // 125)
           |                            ELSE CAST(ceil(sqrt(
           |                              ((count(*) + 124) // 125) * 4096.0))
           |                              AS BIGINT) END
           |                FROM n)),
           |assigned AS (
           |  SELECT vec_id AS id, qv AS vec, nrm AS vn, centroid_id FROM (
           |    SELECT c.vec_id, c.qv, c.nrm, ct.centroid_id,
           |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
           |        (CASE WHEN c.nrm = 0 OR ct.cn = 0 THEN 0.0
           |              ELSE list_dot_product(c.qv, ct.cv) / (c.nrm * ct.cn) END) DESC,
           |        ct.centroid_id ASC) AS rn
           |    FROM n c CROSS JOIN cent ct)
           |  WHERE rn = 1),
           |probes AS (
           |  SELECT vec_id AS query_id, qv, nrm AS qn, centroid_id FROM (
           |    SELECT q.vec_id, q.qv, q.nrm, ct.centroid_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        (CASE WHEN q.nrm = 0 OR ct.cn = 0 THEN 0.0
           |              ELSE list_dot_product(q.qv, ct.cv) / (q.nrm * ct.cn) END) DESC,
           |        ct.centroid_id ASC) AS rn
           |    FROM n q CROSS JOIN cent ct)
           |  WHERE rn <= 4),
           |scored AS (
           |  SELECT p.query_id, a.id AS neighbor_id,
           |    CASE WHEN p.qn = 0 OR a.vn = 0 THEN 0.0
           |         ELSE list_dot_product(p.qv, a.vec) / (p.qn * a.vn) END AS sim
           |  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id),
           |r0 AS (SELECT query_id AS qid, neighbor_id AS nid, sim,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored),
           |nb AS (SELECT qid, rank, sim FROM r0 WHERE rank <= 11 AND nid <> qid),
           |$densityReadoffSql""".stripMargin,

      // PCA-scatter replay: the canonical planar realization is a
      // pure function of the point geometry, so the oracle derives it
      // from the generating (a,b) plane (the 6-dim embedding is an
      // isometric image of it — q114's contract) and never runs an
      // eigensolver; quantization + pixel grid are the engine's exact
      // integer arithmetic. Eigensolver float noise (~1e-12) is far
      // below the 1e-6 quantization step.
      "q196_pca_scatter_svg" -> {
        val hdr = """<svg xmlns="http://www.w3.org/2000/svg" width="1000" height="600">""" +
          "<title>pca projection</title>"
        s"""WITH c AS (SELECT c_custkey AS id,
           |    CAST(c_acctbal AS DOUBLE) / 1000.0 AS a,
           |    CAST(c_custkey AS DOUBLE) / 10.0 AS b
           |  FROM customer WHERE c_custkey <= 50),
           |cen AS (SELECT avg(a) AS ca, avg(b) AS cb FROM c),
           |ctr AS (SELECT id, a - ca AS u, b - cb AS v FROM c, cen),
           |r1 AS (SELECT u AS u1, v AS v1 FROM ctr ORDER BY id LIMIT 1),
           |r2 AS (SELECT u AS u2, v AS v2 FROM ctr ORDER BY id LIMIT 1 OFFSET 1),
           |rot AS (SELECT u1 / sqrt(u1 * u1 + v1 * v1) AS cth,
           |               v1 / sqrt(u1 * u1 + v1 * v1) AS sth FROM r1),
           |fl AS (SELECT CASE WHEN -u2 * sth + v2 * cth
           |           < ${-graft.ops.Projection.CanonReflectEps}
           |         THEN -1.0 ELSE 1.0 END AS f FROM r2, rot),
           |xy AS (SELECT id, u * cth + v * sth AS x,
           |    (u * (-sth) + v * cth) * f AS y FROM ctr, rot, fl),
           |q AS (SELECT id, CAST(floor(x * 1000000.0) AS BIGINT) AS qx,
           |    CAST(floor(y * 1000000.0) AS BIGINT) AS qy FROM xy),
           |ext AS (SELECT min(qx) AS x0, max(qx) AS x1,
           |    min(qy) AS y0, max(qy) AS y1 FROM q),
           |pxl AS (SELECT id,
           |    CASE WHEN x1 = x0 THEN 500
           |      ELSE 50 + CAST(((qx - x0) * 899) // (x1 - x0) AS INTEGER) END AS cx,
           |    550 - (CASE WHEN y1 = y0 THEN 250
           |      ELSE CAST(((qy - y0) * 499) // (y1 - y0) AS INTEGER) END) AS cy
           |  FROM q, ext)
           |SELECT 'scatter_pca' AS plot,
           |  '$hdr' || string_agg(printf('<circle cx="%d" cy="%d" r="3"/>', cx, cy),
           |    '' ORDER BY id) || '</svg>' AS svg
           |FROM pxl""".stripMargin
      },

      // Streaming-KMV replay: per-trigger bottom-k emissions min-merge
      // to the batch bottom-k (any digest in the true bottom-k enters
      // the state on arrival and survives), so the batch KMV of the
      // same digest stream is the oracle.
      "q193_streaming_kmv" -> {
        val frac = Sketch.kmvFracSql("kth_hash")
        s"""WITH d AS (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h
           |  FROM events WHERE user_id IS NOT NULL),
           |hk AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
           |    AS rk FROM d) WHERE rk <= 64),
           |ag AS (SELECT CAST(count(*) AS INT) AS n_kept, max(h) AS kth_hash
           |  FROM hk)
           |SELECT CAST(64 AS INT) AS k, n_kept, kth_hash,
           |  round(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
           |    ELSE 63.0 / $frac END, 6) AS est
           |FROM ag""".stripMargin
      },

      // Blocklist replay: overlapping substring counts per term via a
      // position scan (substr at every start offset) over the same
      // lowercased text — exactly the automaton's match semantics.
      "q191_blocklist_scan" -> {
        val terms = Seq("spark", "shuffle", "window", "merge", "the", "a big")
        def cnt(tm: String) =
          s"CAST(len(list_filter(range(length(t) - ${tm.length} + 1), " +
            s"i -> substr(t, CAST(i + 1 AS INT), ${tm.length}) = '$tm')) AS INT)"
        val cols = terms.map(tm =>
          s"${cnt(tm)} AS n_${tm.replace(" ", "_")}").mkString(",\n  ")
        val total = terms.map(cnt).mkString("(", " + ", ")")
        s"""WITH b AS (SELECT doc_id, lower(text) AS t
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT doc_id,
           |  $cols,
           |  CAST($total AS INT) AS total,
           |  CAST(CASE WHEN $total > 0 THEN 1 ELSE 0 END AS INT) AS flagged
           |FROM b ORDER BY doc_id""".stripMargin
      },

      // Safety-filter replay: q20's quality chain, token band, the
      // q190 encoding regex ladder on the RAW text, and the q191
      // position-scan blocklist counts — conjoined exactly as the
      // engine's keep predicate.
      "q192_safety_filter" -> {
        // zero-guarded like the engine's punctRatio when(n === 0, 0.0)
        // branch: an empty-string doc must not diverge on 0/0
        val punct = s"""CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / length(text) END"""
        val swRatio = s"CAST(len(list_filter($toks, x -> list_contains(${dlist(stop("en"))}, x))) AS DOUBLE) / len($toks)"
        val mtl = s"CAST(list_sum(list_transform($toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len($toks)"
        val quality = s"""CAST((CASE WHEN len($toks) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3
           |      + (CASE WHEN $mtl >= 2.0 AND $mtl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
           |      + (CASE WHEN $punct <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
           |      + (CASE WHEN $swRatio >= 0.01 THEN 1.0 ELSE 0.0 END) * 0.2 AS DOUBLE)""".stripMargin
        val encOk = "CASE WHEN length(text) = length(regexp_replace(text, " +
          "'\\x{FFFD}|\\x{C3}[\\x{80}-\\x{BF}]|[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g')) " +
          "THEN 1 ELSE 0 END"
        def cnt(tm: String) =
          s"len(list_filter(range(length(lower(text)) - ${tm.length} + 1), " +
            s"i -> substr(lower(text), CAST(i + 1 AS INT), ${tm.length}) = '$tm'))"
        val hits = s"(${cnt("merge")} + ${cnt("window")})"
        s"""SELECT doc_id,
           |  round($quality, 6) AS quality,
           |  CAST(len($toks) AS BIGINT) AS n_tokens,
           |  CAST($encOk AS INT) AS encoding_ok,
           |  CAST($hits AS INT) AS blocklist_hits,
           |  CAST(CASE WHEN ($encOk) = 1 AND $quality >= 0.5
           |      AND len($toks) BETWEEN 10 AND 10000 AND $hits = 0
           |    THEN 1 ELSE 0 END AS INT) AS keep
           |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin
      },

      // Encoding-audit replay: identical md5 gate and injected
      // corruption (chr-built), the same three strip-count regexes
      // (RE2 hex classes ≡ the Java classes), same //2 fold.
      "q190_encoding_audit" ->
        s"""WITH r AS (SELECT doc_id,
           |    CASE WHEN ${hd(6)} % 8 <= 2
           |        THEN text || ' x' || chr(195) || chr(169) || 'y'
           |      WHEN ${hd(6)} % 8 = 3 THEN text || chr(65533) || chr(65533)
           |      WHEN ${hd(6)} % 8 = 4 THEN chr(7) || text
           |      ELSE text END AS t
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT doc_id,
           |  CAST(length(t) - length(regexp_replace(t, '\\x{FFFD}', '', 'g'))
           |    AS INT) AS n_replacement,
           |  CAST((length(t) - length(regexp_replace(t,
           |    '\\x{C3}[\\x{80}-\\x{BF}]', '', 'g'))) // 2 AS INT)
           |    AS n_mojibake,
           |  CAST(length(t) - length(regexp_replace(t,
           |    '[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g')) AS INT) AS n_ctrl,
           |  CAST(CASE WHEN length(t) = length(regexp_replace(t,
           |      '\\x{FFFD}|\\x{C3}[\\x{80}-\\x{BF}]|[\\x00-\\x08\\x0B-\\x1F\\x7F]',
           |      '', 'g')) THEN 1 ELSE 0 END AS INT) AS encoding_ok
           |FROM r ORDER BY doc_id""".stripMargin,

      // Source-overlap replay: per-group bottom-k, the pair-expanded
      // unions, membership flags, and the shared estimator ladder.
      "q176_source_overlap" -> {
        val frac = Sketch.kmvFracSql("kth_hash")
        val dU = s"CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE) ELSE 63.0 / $frac END"
        s"""WITH base AS (SELECT source AS g, unnest(${toksSql("text")}) AS tok
           |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
           |d AS (SELECT DISTINCT g, md5(tok) AS h FROM base),
           |hk AS (SELECT g, h FROM (SELECT g, h,
           |    row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM d)
           |  WHERE rk <= 64),
           |gs AS (SELECT DISTINCT g FROM hk),
           |pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
           |u0 AS (SELECT DISTINCT ga, gb, h FROM (
           |    SELECT pr.ga, pr.gb, hk.h FROM pr JOIN hk ON hk.g = pr.ga
           |    UNION ALL SELECT pr.ga, pr.gb, hk.h FROM pr JOIN hk ON hk.g = pr.gb)),
           |u AS (SELECT ga, gb, h FROM (SELECT ga, gb, h,
           |    row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk FROM u0)
           |  WHERE rk <= 64),
           |m AS (SELECT u.ga, u.gb, CAST(count(*) AS INT) AS n_kept,
           |    max(u.h) AS kth_hash,
           |    CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_common
           |  FROM u LEFT JOIN hk a ON a.g = u.ga AND a.h = u.h
           |         LEFT JOIN hk b ON b.g = u.gb AND b.h = u.h
           |  GROUP BY 1, 2)
           |SELECT ga AS source_a, gb AS source_b, CAST(64 AS INT) AS k,
           |  n_kept, kth_hash,
           |  round($dU, 6) AS d_union_est, n_common,
           |  round(CAST(n_common AS DOUBLE) / CAST(n_kept AS DOUBLE), 6) AS jaccard_est,
           |  round((CAST(n_common AS DOUBLE) / CAST(n_kept AS DOUBLE)) * ($dU), 6) AS d_intersect_est
           |FROM m ORDER BY 1, 2""".stripMargin
      },

      // Gopher-rules replay: whitespace words, the same five guarded
      // integer-ratio rules, stopword probes on the alnum tokenizer.
      "q175_gopher_rules" -> {
        val stopSum = TextAnalysis.GopherStopwords.map(sw =>
          s"(CASE WHEN list_contains(toks, '$sw') THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH base AS (SELECT doc_id, coalesce(text, '') AS t
           |  FROM documents WHERE doc_id IS NOT NULL),
           |w AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(t, '\\s+'), x -> len(x) > 0) AS ws,
           |    ${toksSql("t")} AS toks
           |  FROM base),
           |m AS (SELECT doc_id, len(ws) AS nw,
           |    CASE WHEN len(ws) > 0
           |         THEN CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE) /
           |              CAST(len(ws) AS DOUBLE)
           |         ELSE 0.0 END AS mwl,
           |    len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...')
           |      OR contains(x, chr(8230)))) AS nsym,
           |    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
           |    $stopSum AS nstop
           |  FROM w),
           |f AS (SELECT doc_id, nw, mwl,
           |    CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS wc_ok,
           |    CASE WHEN nw > 0 AND mwl >= 3.0 AND mwl <= 10.0 THEN 1 ELSE 0 END AS mwl_ok,
           |    CASE WHEN nw > 0 AND CAST(nsym AS DOUBLE) / CAST(nw AS DOUBLE) <= 0.1
           |         THEN 1 ELSE 0 END AS sym_ok,
           |    CASE WHEN nw > 0 AND CAST(nalpha AS DOUBLE) / CAST(nw AS DOUBLE) >= 0.8
           |         THEN 1 ELSE 0 END AS alpha_ok,
           |    CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS stop_ok
           |  FROM m)
           |SELECT doc_id, CAST(nw AS BIGINT) AS n_words, round(mwl, 6) AS mean_word_len,
           |  CAST(wc_ok AS INT) AS wc_ok, CAST(mwl_ok AS INT) AS mwl_ok,
           |  CAST(sym_ok AS INT) AS sym_ok, CAST(alpha_ok AS INT) AS alpha_ok,
           |  CAST(stop_ok AS INT) AS stop_ok,
           |  CAST(CASE WHEN wc_ok + mwl_ok + sym_ok + alpha_ok + stop_ok = 5
           |       THEN 1 ELSE 0 END AS INT) AS pass
           |FROM f ORDER BY doc_id""".stripMargin
      },

      // Sessionization replay: identical lag/running-sum window over
      // (ts, event_id) order, epoch-millis integers end to end.
      "q171_sessionize" ->
        """WITH b AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
          |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |f AS (SELECT user_id, event_id, ms,
          |    CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
          |         THEN 1 ELSE 0 END AS new_s
          |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
          |s AS (SELECT user_id, ms,
          |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
          |                     ROWS UNBOUNDED PRECEDING) AS session_idx
          |  FROM f)
          |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(min(ms) AS BIGINT) AS start_ms, CAST(max(ms) AS BIGINT) AS end_ms,
          |  CAST(max(ms) - min(ms) AS BIGINT) AS duration_ms
          |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // Stream–stream join replay: every match eventually forms (the
      // 365-day watermark evicts nothing inside the data's range), so
      // the emitted stream must equal the batch interval self-join.
      "q168_streaming_join" ->
        """SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
          |FROM events c JOIN events v
          |  ON c.user_id = v.user_id
          | AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts
          |WHERE c.event_type = 'click' AND v.event_type = 'view'
          |  AND c.ts IS NOT NULL AND v.ts IS NOT NULL
          |  AND c.user_id IS NOT NULL
          |ORDER BY 1, 2, 3""".stripMargin,

      // Streaming numeric-profile replay: every real per-day window
      // closes under the sentinel watermark, so the emitted stream must
      // equal the batch day × type moment aggregation (q65's round-6
      // double-aggregate convention).
      "q151_streaming_numeric_profile" ->
        """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
          |  event_type, CAST(count(value) AS BIGINT) AS n,
          |  round(avg(value), 6) AS mean,
          |  round(stddev_pop(value), 6) AS std,
          |  round(min(value), 6) AS min, round(max(value), 6) AS max
          |FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // Streaming exact-dedup replay: q148's first-shard-wins algebra
      // keyed on the content fingerprint instead of the SimHash word.
      "q152_streaming_dedup" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}
           |            WHERE text IS NOT NULL),
           |s AS (SELECT doc_id,
           |    CASE WHEN doc_id < 200 THEN 0 WHEN doc_id < 400 THEN 1
           |         ELSE 2 END AS batch,
           |    md5(array_to_string($toks, ' ')) AS fp
           |  FROM dup),
           |pd AS (SELECT batch, fp, min(doc_id) AS doc_id
           |  FROM s GROUP BY 1, 2),
           |adm AS (SELECT t.* FROM pd t WHERE NOT EXISTS (
           |  SELECT 1 FROM pd e WHERE e.fp = t.fp AND e.batch < t.batch))
           |SELECT doc_id, CAST(batch AS INT) AS batch FROM adm
           |ORDER BY doc_id""".stripMargin,

      // Stream-static enrichment replay: the per-micro-batch broadcast
      // join's union must equal the batch left join.
      "q153_streaming_enrich" ->
        """SELECT o_orderkey, o_custkey, c_mktsegment, c_nationkey
          |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_orderkey""".stripMargin,

      // BPE training replay: ten unrolled merge rounds over the
      // marker-string vocabulary state; each round's winner re-derives
      // lhs/rhs/merged from its pair string.
      "q155_bpe_train" -> {
        val rows = (1 to 10).map { r =>
          s"""SELECT $r AS merge_rank,
             |  string_split(trim(pair, '><'), '><')[1] AS lhs,
             |  string_split(trim(pair, '><'), '><')[2] AS rhs,
             |  replace(trim(pair, '><'), '><', '') AS merged, cnt
             |FROM b$r""".stripMargin
        }
        s"""WITH ${bpeStagesSql(10)}
           |SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs, merged, cnt
           |FROM (${rows.mkString("\n", "\nUNION ALL\n", "\n")})
           |ORDER BY merge_rank""".stripMargin
      },

      // BPE encode replay: the round-10 vocabulary state IS the
      // encoded segmentation — pieces and piece counts read off it.
      "q156_bpe_encode" ->
        s"""WITH ${bpeStagesSql(10)}
           |SELECT w, freq,
           |  replace(trim(st, '><'), '><', ' ') AS pieces,
           |  CAST(len(string_split(trim(st, '><'), '><')) AS BIGINT) AS n_pieces
           |FROM v10 ORDER BY w""".stripMargin,

      // Byte-level BPE train replay: identical merge-stage algebra on
      // hex-byte symbols over the e→é-injected whitespace vocabulary.
      "q224_bpe_bytes_train" -> {
        val rows = (1 to 10).map { r =>
          s"""SELECT $r AS merge_rank,
             |  string_split(trim(pair, '><'), '><')[1] AS lhs,
             |  string_split(trim(pair, '><'), '><')[2] AS rhs,
             |  replace(trim(pair, '><'), '><', '') AS merged, cnt
             |FROM b$r""".stripMargin
        }
        s"""WITH ${bpeBytesStagesSql(10)}
           |SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs, merged, cnt
           |FROM (${rows.mkString("\n", "\nUNION ALL\n", "\n")})
           |ORDER BY merge_rank""".stripMargin
      },

      // Byte-level encode replay: round-10 state read off as hex
      // pieces.
      "q225_bpe_bytes_encode" ->
        s"""WITH ${bpeBytesStagesSql(10)}
           |SELECT w, freq,
           |  replace(trim(st, '><'), '><', ' ') AS pieces,
           |  CAST(len(string_split(trim(st, '><'), '><')) AS BIGINT) AS n_pieces
           |FROM v10 ORDER BY w""".stripMargin,

      // Krippendorff replay: same three-rater simulation, coincidence
      // identities in exact integers (lcm-cleared D_o numerator,
      // integer D_e), alpha from the two unrounded double ratios.
      "q222_krippendorff_alpha" ->
        s"""WITH ${ratersSql("% 3", "VARCHAR", 2)},
           |cells AS (SELECT u, v, count(*) AS c FROM rows0 GROUP BY 1, 2),
           |units AS (SELECT u, sum(c) AS m, sum(c * c) AS ss
           |  FROM cells GROUP BY u HAVING sum(c) >= 2),
           |byM AS (SELECT m, sum(m * m - ss) AS a FROM units GROUP BY m),
           |don AS (SELECT CAST(coalesce(sum(
           |    CAST(27720 // (m - 1) AS DECIMAL(38,0)) *
           |    CAST(a AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS do_num
           |  FROM byM),
           |marg AS (SELECT v, sum(c) AS nc FROM cells
           |  WHERE u IN (SELECT u FROM units) GROUP BY v),
           |tot AS (SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CAST(nc AS DECIMAL(38,0)) *
           |      CAST(nc AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS ncsq
           |  FROM marg),
           |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM units)
           |SELECT n_units, n, round(do0, 6) AS "do", round(de0, 6) AS de,
           |  round(CASE WHEN de0 > 0.0 THEN 1.0 - do0 / de0 END, 6) AS alpha
           |FROM (SELECT n_units, n,
           |    CAST(do_num AS DOUBLE) /
           |      CAST(CAST(n AS DECIMAL(38,0)) * 27720 AS DOUBLE) AS do0,
           |    CAST(CAST(n AS DECIMAL(38,0)) * n - ncsq AS DOUBLE) /
           |      CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE) AS de0
           |  FROM tot, don, nu)""".stripMargin,

      // Interval-metric alpha replay: same per-m lcm clearing as q222;
      // the D_o numerator is the closed unit-moment form
      // A_u = 2(m·Σv² − (Σv)²), D_e the global-moment twin.
      "q228_krippendorff_interval" ->
        s"""WITH ${ratersSql("% 5 + 1", "BIGINT", 3)},
           |cells AS (SELECT u, v, count(*) AS c FROM rows0 GROUP BY 1, 2),
           |units AS (SELECT u, sum(c) AS m, sum(c * v) AS sv,
           |    sum(c * v * v) AS svv
           |  FROM cells GROUP BY u HAVING sum(c) >= 2),
           |byM AS (SELECT m,
           |    sum(CAST(2 AS DECIMAL(38,0)) *
           |      (CAST(m AS DECIMAL(38,0)) * CAST(svv AS DECIMAL(38,0)) -
           |       CAST(sv AS DECIMAL(38,0)) * CAST(sv AS DECIMAL(38,0)))) AS a
           |  FROM units GROUP BY m),
           |don AS (SELECT CAST(coalesce(sum(
           |    CAST(27720 // (m - 1) AS DECIMAL(38,0)) *
           |    CAST(a AS DECIMAL(38,0))), 0) AS DECIMAL(38,6)) AS do_num
           |  FROM byM),
           |tot AS (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CAST(sv AS DECIMAL(38,0))), 0)
           |      AS DECIMAL(38,0)) AS gsv,
           |    CAST(coalesce(sum(CAST(svv AS DECIMAL(38,0))), 0)
           |      AS DECIMAL(38,0)) AS gsvv
           |  FROM units),
           |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM units)
           |SELECT n_units, n, round(do0, 6) AS "do", round(de0, 6) AS de,
           |  round(CASE WHEN de0 > 0.0 THEN 1.0 - do0 / de0 END, 6) AS alpha
           |FROM (SELECT n_units, n,
           |    CASE WHEN n > 0 THEN CAST(do_num AS DOUBLE) /
           |      (CAST(n AS DOUBLE) * 27720) END AS do0,
           |    CASE WHEN n > 0 THEN
           |      CAST(CAST(2 AS DECIMAL(38,0)) *
           |        (CAST(n AS DECIMAL(38,0)) * gsvv - gsv * gsv) AS DOUBLE) /
           |      CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE) END AS de0
           |  FROM tot, don, nu)""".stripMargin,

      // Ordinal-metric alpha replay: Q_ck = (2·(cum_k − cum_c) + n_c −
      // n_k)² = 4·δ²_ord over the coincidence marginals; the 4 and the
      // ordered-pair doubling cancel to the published /2 scales.
      "q229_krippendorff_ordinal" ->
        s"""WITH ${ratersSql("% 5 + 1", "BIGINT", 3)},
           |cells AS (SELECT u, v, count(*) AS c FROM rows0 GROUP BY 1, 2),
           |units AS (SELECT u, sum(c) AS m FROM cells GROUP BY u
           |  HAVING sum(c) >= 2),
           |qcells AS (SELECT * FROM cells WHERE u IN (SELECT u FROM units)),
           |marg AS (SELECT v, sum(c) AS nc FROM qcells GROUP BY v),
           |cum AS (SELECT a.v AS v, max(a.nc) AS nc, sum(b.nc) AS cum
           |  FROM marg a JOIN marg b ON b.v <= a.v GROUP BY a.v),
           |qs AS (SELECT a.v AS vc, b.v AS vk, a.nc AS ncc, b.nc AS nck,
           |    CAST((2 * (b.cum - a.cum) + a.nc - b.nc) *
           |         (2 * (b.cum - a.cum) + a.nc - b.nc)
           |      AS DECIMAL(38,0)) AS q
           |  FROM cum a JOIN cum b ON a.v < b.v),
           |en AS (SELECT CAST(coalesce(sum(
           |    CAST(ncc AS DECIMAL(38,0)) * CAST(nck AS DECIMAL(38,0)) * q),
           |    0) AS DECIMAL(38,0)) AS e FROM qs),
           |pairs AS (SELECT x.u AS u, x.v AS vc, y.v AS vk,
           |    CAST(x.c AS DECIMAL(38,0)) * CAST(y.c AS DECIMAL(38,0)) AS cc
           |  FROM qcells x JOIN qcells y ON x.u = y.u AND x.v < y.v),
           |perB AS (SELECT u, CAST(coalesce(sum(cc * q), 0)
           |    AS DECIMAL(38,0)) AS b
           |  FROM pairs JOIN qs USING (vc, vk) GROUP BY u),
           |byM AS (SELECT m, coalesce(sum(b), CAST(0 AS DECIMAL(38,0))) AS a
           |  FROM units LEFT JOIN perB USING (u) GROUP BY m),
           |don AS (SELECT CAST(coalesce(sum(
           |    CAST(27720 // (m - 1) AS DECIMAL(38,0)) *
           |    CAST(a AS DECIMAL(38,0))), 0) AS DECIMAL(38,6)) AS do_num
           |  FROM byM),
           |tot AS (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS n FROM units),
           |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM units)
           |SELECT n_units, n, round(do0, 6) AS "do", round(de0, 6) AS de,
           |  round(CASE WHEN de0 > 0.0 THEN 1.0 - do0 / de0 END, 6) AS alpha
           |FROM (SELECT n_units, n,
           |    CASE WHEN n > 0 THEN CAST(do_num AS DOUBLE) /
           |      (CAST(n AS DOUBLE) * 27720 * 2.0) END AS do0,
           |    CASE WHEN n > 0 THEN CAST(e AS DOUBLE) /
           |      CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE) / 2.0
           |      END AS de0
           |  FROM tot, don, en, nu)""".stripMargin,

      // HTML main-content replay: same page shell, same block split,
      // same per-block integer gates (length / 3x link density / >= 1
      // stopword over TextAnalysis.tokens' alnum token stream).
      "q227_html_main_content" -> {
        val shellPre = "<header><ul><li><a href=\"/\">Home</a></li>" +
          "<li><a href=\"/about\">About Us</a></li>" +
          "<li><a href=\"/contact\">Contact</a></li></ul></header>" +
          "<article><p>"
        val shellPost = "</p></article><div>Share this page: " +
          "<a href=\"#\">Tweet</a> <a href=\"#\">Like</a></div>" +
          "<footer>Copyright 2024 Example Corp - All rights reserved" +
          "</footer>"
        val blockTag = "(?i)</?(?:div|p|ul|ol|li|nav|footer|header|" +
          "aside|section|article|table|thead|tbody|tr|td|th|h[1-6]|" +
          "blockquote|form|main|br)[^>]*>"
        val clean = (x: String) =>
          s"trim(regexp_replace(regexp_replace($x, '<[^>]*>', ' ', 'g'), " +
            "'\\s+', ' ', 'g'))"
        val toks = (x: String) =>
          s"list_filter(regexp_split_to_array(lower($x), '[^a-z0-9]+'), " +
            "t -> t <> '')"
        val stopList =
          "['the','a','and','of','to','in','is','it','you','that']"
        s"""WITH src AS (
           |  SELECT doc_id, '$shellPre' || coalesce(text, '') ||
           |    '$shellPost' AS html
           |  FROM documents WHERE doc_id IS NOT NULL),
           |blk AS (SELECT doc_id,
           |    list_filter(list_transform(
           |      regexp_split_to_array(html, '$blockTag'),
           |      x -> struct_pack(
           |        txt := ${clean("x")},
           |        n := length(${clean("x")}),
           |        ln := coalesce(length(${clean(
          "array_to_string(regexp_extract_all(x, '(?is)<a[^>]*>(.*?)</a>', 1), ' ')")}), 0),
           |        sw := len(list_filter(${toks(clean("x"))},
           |          t -> list_contains($stopList, t))))),
           |      s -> s.n > 0) AS b
           |  FROM src)
           |SELECT doc_id,
           |  coalesce(array_to_string(list_transform(
           |    list_filter(b, s -> s.n >= 25 AND s.ln * 3 <= s.n
           |      AND s.sw >= 1), s -> s.txt), chr(10)), '') AS main_text,
           |  CAST(len(b) AS BIGINT) AS n_blocks,
           |  CAST(len(list_filter(b, s -> s.n >= 25 AND s.ln * 3 <= s.n
           |    AND s.sw >= 1)) AS BIGINT) AS n_kept
           |FROM blk ORDER BY doc_id""".stripMargin
      },

      // Bradley-Terry replay: the same 20 integer-exact MM rounds
      // unrolled as CTE stages — HUGEINT carries the multiplies, //
      // is the same positive floor division, so every P_i replays
      // bit-for-bit and the one double op (final normalize) rounds
      // from identical integers.
      "q226_bradley_terry" -> {
        val rounds = (1 to 20).map { r =>
          s"""s$r AS MATERIALIZED (SELECT e.id,
             |    sum(CAST(nij AS HUGEINT) * 1000000000000000 //
             |        (pi.p + pj.p)) AS s
             |  FROM edges e
             |  JOIN p${r - 1} pi ON pi.id = e.id
             |  JOIN p${r - 1} pj ON pj.id = e.opp
             |  GROUP BY 1),
             |u$r AS MATERIALIZED (SELECT i.id,
             |    coalesce(CAST(wi AS HUGEINT) * 1000000000000000 // s.s,
             |      CAST(0 AS HUGEINT)) AS p1
             |  FROM items i LEFT JOIN s$r s USING (id)),
             |p$r AS MATERIALIZED (SELECT id,
             |    greatest(CAST(p1 AS HUGEINT) * (SELECT n FROM nn) *
             |        1000000 // (SELECT sum(p1) FROM u$r),
             |      CAST(1000 AS HUGEINT)) AS p
             |  FROM u$r)""".stripMargin
        }
        s"""WITH mt AS MATERIALIZED (
           |  SELECT CAST(CASE WHEN up THEN least(a, b)
           |              ELSE greatest(a, b) END AS VARCHAR) AS w,
           |         CAST(CASE WHEN up THEN greatest(a, b)
           |              ELSE least(a, b) END AS VARCHAR) AS l
           |  FROM (SELECT o_orderkey % 7 AS a, (o_orderkey // 7) % 7 AS b,
           |          o_orderkey % 4 = 0 AS up
           |        FROM orders WHERE o_orderkey IS NOT NULL)
           |  WHERE a <> b),
           |pairs AS MATERIALIZED (
           |  SELECT least(w, l) AS i, greatest(w, l) AS j,
           |    CAST(count(*) AS BIGINT) AS nij
           |  FROM mt GROUP BY 1, 2),
           |edges AS MATERIALIZED (
           |  SELECT i AS id, j AS opp, nij FROM pairs
           |  UNION ALL SELECT j, i, nij FROM pairs),
           |wins AS (SELECT w AS id, CAST(count(*) AS BIGINT) AS wi
           |  FROM mt GROUP BY 1),
           |itm0 AS (SELECT id, CAST(sum(nij) AS BIGINT) AS ni
           |  FROM edges GROUP BY 1),
           |items AS MATERIALIZED (
           |  SELECT itm0.id, CAST(coalesce(wi, 0) AS BIGINT) AS wi, ni
           |  FROM itm0 LEFT JOIN wins USING (id)),
           |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM items),
           |p0 AS (SELECT id, CAST(1000000 AS HUGEINT) AS p FROM items),
           |${rounds.mkString(",\n")}
           |SELECT i.id AS item, wi AS wins, ni AS n_matches,
           |  round(CAST(p AS DOUBLE) /
           |    (SELECT CAST(sum(p) AS DOUBLE) FROM p20), 6) AS strength
           |FROM items i JOIN p20 USING (id)
           |ORDER BY item""".stripMargin
      },

      // Unigram-LM trainer replay: two full Viterbi-EM passes as
      // staged CTEs; the published vocabulary carries the final counts
      // and the integer log scores the encoder uses.
      "q220_unigram_train" ->
        s"""WITH ${unigramStagesSql(2)}
           |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
           |  ${ilogSql("cnt + 1")} -
           |    (SELECT ${ilogSql("t")} FROM
           |      (SELECT sum(cnt) + (SELECT v FROM nv) AS t FROM c2))
           |    AS score
           |FROM c2 ORDER BY piece""".stripMargin,

      // Unigram encode replay: the third Viterbi pass (scores from the
      // final M-step counts) IS the segmentation — read it off seg3.
      "q221_unigram_encode" ->
        s"""WITH ${unigramStagesSql(3)}
           |SELECT w, freq,
           |  replace(substr(path, 2), chr(31), ' ') AS pieces,
           |  CAST(len(string_split(substr(path, 2), chr(31))) AS BIGINT)
           |    AS n_pieces
           |FROM seg3 ORDER BY w""".stripMargin,

      // Modified-KN trigram replay: the whole estimator re-derived in
      // SQL — trigram counts, continuation tables, Chen-Goodman
      // discounts from count-of-count bands, per-context gamma
      // numerators, and the three-level interpolated probability with
      // pure backoff (gamma = 1) on unseen contexts. Reused stages
      // are MATERIALIZED (the r12 DP-unroll lesson).
      "q223_kn_trigram_logprob" -> {
        val toks = toksSql("text")
        val tgs = "unnest(list_transform(range(len(w) - 2), " +
          "i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))"
        // Chen-Goodman discount triple from a band row (n1..n4):
        // Y = n1/(n1+2n2); the modified triple applies only when all
        // bands are nonzero AND every D_k > 0; else flat absolute
        // discounting D = Y (or 0.5 when n1 = 0) — mirrors
        // Corpus.knTrigramLogProb's bands()
        def dsql(p: String) =
          s"""SELECT
             |  CASE WHEN valid THEN d1m ELSE fb END AS ${p}1,
             |  CASE WHEN valid THEN d2m ELSE fb END AS ${p}2,
             |  CASE WHEN valid THEN d3m ELSE fb END AS ${p}3
             |FROM (SELECT *,
             |    (n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND
             |     d1m > 0 AND d2m > 0 AND d3m > 0) AS valid,
             |    CASE WHEN n1 > 0 THEN y ELSE CAST(0.5 AS DOUBLE) END AS fb
             |  FROM (SELECT *,
             |      CASE WHEN n1 > 0 THEN 1.0 - 2.0 * y *
             |        CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS d1m,
             |      CASE WHEN n2 > 0 THEN 2.0 - 3.0 * y *
             |        CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) END AS d2m,
             |      CASE WHEN n3 > 0 THEN 3.0 - 4.0 * y *
             |        CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE) END AS d3m
             |    FROM (SELECT *,
             |        CASE WHEN n1 + 2*n2 > 0 THEN CAST(n1 AS DOUBLE) /
             |          CAST(n1 + 2*n2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE)
             |        END AS y
             |      FROM __BANDS__)))""".stripMargin
        def bsql(src: String, c: String) =
          s"""SELECT
             |  CAST(sum(CASE WHEN $c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |  CAST(sum(CASE WHEN $c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             |  CAST(sum(CASE WHEN $c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             |  CAST(sum(CASE WHEN $c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
             |FROM $src""".stripMargin
        s"""WITH base AS MATERIALIZED (
           |  SELECT doc_id, $toks AS w FROM documents WHERE doc_id IS NOT NULL),
           |tg AS MATERIALIZED (
           |  SELECT tg, CAST(count(*) AS BIGINT) AS c3,
           |    split_part(tg, ' ', 1) AS w1, split_part(tg, ' ', 2) AS w2,
           |    split_part(tg, ' ', 3) AS w3
           |  FROM (SELECT $tgs AS tg
           |        FROM base WHERE doc_id % 2 = 0 AND len(w) >= 3)
           |  GROUP BY 1),
           |cc2 AS MATERIALIZED (
           |  SELECT w2, w3, CAST(count(*) AS BIGINT) AS cc FROM tg GROUP BY 1, 2),
           |cu AS MATERIALIZED (
           |  SELECT w3, CAST(count(*) AS BIGINT) AS cu FROM cc2 GROUP BY 1),
           |d3 AS (${dsql("d3").replace("__BANDS__", s"(${bsql("tg", "c3")})")}),
           |d2 AS (${dsql("d2").replace("__BANDS__", s"(${bsql("cc2", "cc")})")}),
           |d1 AS (${dsql("d1").replace("__BANDS__", s"(${bsql("cu", "cu")})")}),
           |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
           |       FROM (SELECT unnest(w) AS tok FROM base WHERE doc_id % 2 = 0)),
           |lvl1 AS (SELECT CAST(sum(cu) AS BIGINT) AS cut,
           |    CAST(sum(CASE WHEN cu = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
           |    CAST(sum(CASE WHEN cu = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
           |    CAST(sum(CASE WHEN cu >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS m3
           |  FROM cu),
           |scal AS (SELECT d3.*, d2.*, d1.*, vv.v, lvl1.cut,
           |    (d11 * m1 + d12 * m2 + d13 * m3) / CAST(cut AS DOUBLE) AS g1
           |  FROM d3, d2, d1, vv, lvl1),
           |ctx3 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS t3,
           |    CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
           |    CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
           |    CAST(sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3
           |  FROM tg GROUP BY 1, 2),
           |ctx2 AS (SELECT w2, CAST(sum(cc) AS BIGINT) AS t2,
           |    CAST(sum(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
           |    CAST(sum(CASE WHEN cc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
           |    CAST(sum(CASE WHEN cc >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS e3
           |  FROM cc2 GROUP BY 1),
           |tf AS (SELECT doc_id, tg, CAST(count(*) AS BIGINT) AS tf,
           |    split_part(tg, ' ', 1) AS w1, split_part(tg, ' ', 2) AS w2,
           |    split_part(tg, ' ', 3) AS w3
           |  FROM (SELECT doc_id, $tgs AS tg FROM base WHERE len(w) >= 3)
           |  GROUP BY 1, 2),
           |pp AS (SELECT t.doc_id, t.tf,
           |    (CASE WHEN x3.t3 IS NOT NULL THEN
           |        greatest(CAST(coalesce(g.c3, 0) AS DOUBLE) -
           |          (CASE WHEN coalesce(g.c3, 0) >= 3 THEN s.d33
           |                WHEN coalesce(g.c3, 0) = 2 THEN s.d32
           |                WHEN coalesce(g.c3, 0) = 1 THEN s.d31
           |                ELSE CAST(0.0 AS DOUBLE) END),
           |          CAST(0.0 AS DOUBLE)) / CAST(x3.t3 AS DOUBLE)
           |      ELSE CAST(0.0 AS DOUBLE) END) +
           |    coalesce((s.d31 * x3.b1 + s.d32 * x3.b2 + s.d33 * x3.b3) /
           |        CAST(x3.t3 AS DOUBLE), CAST(1.0 AS DOUBLE)) *
           |    ((CASE WHEN x2.t2 IS NOT NULL THEN
           |        greatest(CAST(coalesce(c.cc, 0) AS DOUBLE) -
           |          (CASE WHEN coalesce(c.cc, 0) >= 3 THEN s.d23
           |                WHEN coalesce(c.cc, 0) = 2 THEN s.d22
           |                WHEN coalesce(c.cc, 0) = 1 THEN s.d21
           |                ELSE CAST(0.0 AS DOUBLE) END),
           |          CAST(0.0 AS DOUBLE)) / CAST(x2.t2 AS DOUBLE)
           |      ELSE CAST(0.0 AS DOUBLE) END) +
           |     coalesce((s.d21 * x2.e1 + s.d22 * x2.e2 + s.d23 * x2.e3) /
           |         CAST(x2.t2 AS DOUBLE), CAST(1.0 AS DOUBLE)) *
           |     (greatest(CAST(coalesce(u.cu, 0) AS DOUBLE) -
           |          (CASE WHEN coalesce(u.cu, 0) >= 3 THEN s.d13
           |                WHEN coalesce(u.cu, 0) = 2 THEN s.d12
           |                WHEN coalesce(u.cu, 0) = 1 THEN s.d11
           |                ELSE CAST(0.0 AS DOUBLE) END),
           |          CAST(0.0 AS DOUBLE)) / CAST(s.cut AS DOUBLE) +
           |      s.g1 / CAST(s.v AS DOUBLE))) AS p
           |  FROM tf t
           |  LEFT JOIN tg g USING (tg)
           |  LEFT JOIN ctx3 x3 ON x3.w1 = t.w1 AND x3.w2 = t.w2
           |  LEFT JOIN cc2 c ON c.w2 = t.w2 AND c.w3 = t.w3
           |  LEFT JOIN ctx2 x2 ON x2.w2 = t.w2
           |  LEFT JOIN cu u ON u.w3 = t.w3
           |  CROSS JOIN scal s),
           |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
           |    sum(CAST(tf AS DOUBLE) * ln(p)) / CAST(sum(tf) AS DOUBLE)
           |      AS avg_logp
           |  FROM pp GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(coalesce(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           |  round(coalesce(sc.avg_logp, 0.0), 6) AS avg_logp
           |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL) d
           |LEFT JOIN sc USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },

      // .vec round-trip: the oracle recomputes the vectors from nation
      // directly — every component is exactly representable in binary
      // (quarters/eighths), so the text-format round-trip the engine
      // performs is bit-lossless and hashes must match.
      "q157_vec_load" ->
        """SELECT regexp_replace(lower(n_name), '[^a-z]', '_', 'g') AS word, j, v
          |FROM (
          |  SELECT n_name, 0 AS j, n_nationkey * 0.25e0 AS v FROM nation
          |  UNION ALL SELECT n_name, 1, n_regionkey * 1.5e0 - 3.0e0 FROM nation
          |  UNION ALL SELECT n_name, 2, (n_nationkey % 7) * 0.5e0 - 1.5e0 FROM nation
          |  UNION ALL SELECT n_name, 3, length(n_name) * 0.125e0 FROM nation)
          |ORDER BY word, j""".stripMargin,

      // Streaming curation replay: q52's cleaning/feature/filter stages
      // verbatim (shared CTE builders), per-shard pre-thinning on the
      // cleaned-content fingerprint, first-shard-wins suppression among
      // FILTERED rows (the engine dedups after its filters), id-hash
      // sampling last — the batch window-dedup swapped for exactly the
      // state the streaming query keeps.
      "q154_streaming_curate" -> {
        val ctc = toksSql("text_clean")
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}
           |            WHERE text IS NOT NULL),
           |injected AS (
           |  SELECT doc_id AS id,
           |    CASE WHEN doc_id % 3 = 0
           |      THEN t2 || ' contact alice.smith@example.org or +1 (415) 555-0100'
           |      ELSE t2 END AS text,
           |    CASE WHEN doc_id < 200 THEN 0 WHEN doc_id < 400 THEN 1
           |         ELSE 2 END AS batch
           |  FROM (SELECT doc_id, CASE WHEN doc_id % 4 = 0
           |          THEN '<html><p class="x">' || text || '</p> see https://example.com/a?b=1 now</html>'
           |          ELSE text END AS t2
           |        FROM dup)),
           |${curateCleanedSql(Seq("batch"))},
           |thin AS (SELECT id, batch, text_clean FROM (
           |    SELECT c.*, row_number() OVER (PARTITION BY batch,
           |      md5(array_to_string($ctc, ' ')) ORDER BY id) AS rn
           |    FROM cleaned c) WHERE rn = 1),
           |${curateFeatFiltSql("thin", Seq("batch"))},
           |adm AS (SELECT f.* FROM filt f WHERE NOT EXISTS (
           |  SELECT 1 FROM filt e WHERE e.fp = f.fp AND e.batch < f.batch))
           |SELECT id AS doc_id, text_clean, lang,
           |  round(quality, 6) AS quality, n_tokens
           |FROM adm WHERE (${hash31Sql("CAST(id AS VARCHAR)")}) % 10000 < 5000
           |ORDER BY doc_id""".stripMargin
      },

      // Full-width (32 tokens × 100 dims) profile replay — q34's
      // md5-embedder reconstruction made position-GENERIC (one md5 per
      // (doc, position) row instead of one UNION branch per dimension,
      // which at 3200 dims would be 3200 table scans): per-dim moments
      // for the reported dims, covariance trace over ALL dims. chol_ok
      // is the oracle's assertion that the engine's 3200² Cholesky
      // factorization succeeded.
      "q125_text_profile_wide" -> {
        val d = 100; val n = d * 32
        val hashFromM = (0 until 7).map { k =>
          s"(instr('0123456789abcdef', substr(m, ${k + 1}, 1)) - 1) * ${1L << (4 * (6 - k))}"
        }.mkString("(", " + ", ")")
        s"""WITH t AS (
           |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
           |    x -> length(x) BETWEEN 2 AND 15) AS toks
           |  FROM documents WHERE text IS NOT NULL),
           |v0 AS (
           |  SELECT i, CASE WHEN len(toks) > i // $d
           |    THEN md5(toks[i // $d + 1] || '#' || CAST(i % $d AS VARCHAR))
           |    END AS m
           |  FROM t CROSS JOIN range($n) r(i)),
           |vals AS (
           |  SELECT i AS dim_idx,
           |    CASE WHEN m IS NULL THEN 0.0
           |      ELSE CAST($hashFromM AS DOUBLE) / 268435456.0 * 2.0 - 1.0
           |    END AS v
           |  FROM v0),
           |agg AS (SELECT dim_idx, count(*) AS n, sum(v) AS s1, sum(v*v) AS s2
           |        FROM vals GROUP BY dim_idx),
           |tr AS (SELECT sum((s2 - n*(s1/n)*(s1/n))/(n-1)) AS trace FROM agg)
           |SELECT CAST(dim_idx AS INT) AS dim_idx,
           |  round(s1/n, 6) AS mean,
           |  round(sqrt(greatest(s2/n - (s1/n)*(s1/n), 0)), 6) AS std,
           |  round(tr.trace, 6) AS cov_trace,
           |  TRUE AS chol_ok,
           |  CAST(n AS BIGINT) AS n_docs
           |FROM agg CROSS JOIN tr WHERE dim_idx < 8 ORDER BY dim_idx""".stripMargin
      },

      // Content parity of the compacted directory with the source table;
      // files_after = 1 is the deterministic size-derived count at test
      // scale (the directory is far under one 256 MB target file).
      "q124_compact_sink" ->
        """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(1 AS INT) AS files_after
          |FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
          |GROUP BY 1 ORDER BY source""".stripMargin,

      // int8 quantization replay: same double-precision op order as the
      // engine (cast-to-double, amax/127 scale, round-half-up clamp,
      // left-fold residual sum) so every column hashes bit-equal. The
      // residual lambda recomputes the quantized value instead of
      // indexing qvec — no index-lambda dependence, same arithmetic.
      "q126_quantize_int8" ->
        """WITH v AS (SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
          |  FROM embeddings WHERE embedding IS NOT NULL),
          |a AS (SELECT vec_id, vv,
          |    list_max(list_transform(vv, x -> abs(x))) AS amax FROM v),
          |s AS (SELECT vec_id, vv, amax, amax / 127.0 AS scale FROM a)
          |SELECT vec_id, scale,
          |  CASE WHEN amax = 0 THEN array_to_string(
          |         list_transform(vv, x -> '0'), ',')
          |       ELSE array_to_string(list_transform(vv, x ->
          |         CAST(CAST(least(greatest(floor(x / scale + 0.5), -127.0), 127.0)
          |           AS TINYINT) AS VARCHAR)), ',') END AS qvec,
          |  CASE WHEN amax = 0 THEN 0
          |       ELSE CAST(list_sum(list_transform(vv, x ->
          |         CASE WHEN abs(floor(x / scale + 0.5)) > 127.0
          |              THEN 1 ELSE 0 END)) AS INT) END AS n_clipped,
          |  CASE WHEN amax = 0 THEN 0.0
          |       ELSE round(sqrt(list_sum(list_transform(vv, x ->
          |         (x - least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale)
          |         * (x - least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale)
          |       ))), 6) END AS err_l2
          |FROM s ORDER BY vec_id""".stripMargin,

      // JS divergence replay: present-(group, token)-pair sums plus the
      // closed-form ln2 tail for group-absent tokens, matching the
      // engine's formulation term for term.
      "q127_token_js_divergence" ->
        s"""WITH tk AS (SELECT source AS grp, u.t AS tok
           |  FROM documents, UNNEST(${toksSql("text")}) AS u(t)
           |  WHERE source IS NOT NULL AND text IS NOT NULL),
           |pairs AS (SELECT grp, tok, count(*) AS c_gt FROM tk GROUP BY 1, 2),
           |g AS (SELECT grp, CAST(sum(c_gt) AS BIGINT) AS n_tokens
           |      FROM pairs GROUP BY 1),
           |t AS (SELECT tok, CAST(sum(c_gt) AS BIGINT) AS c_t
           |      FROM pairs GROUP BY 1),
           |n AS (SELECT CAST(sum(c_gt) AS BIGINT) AS n FROM pairs),
           |terms AS (SELECT p.grp,
           |    CAST(p.c_gt AS DOUBLE) / CAST(g.n_tokens AS DOUBLE) AS pp,
           |    CAST(t.c_t AS DOUBLE) / CAST(n.n AS DOUBLE) AS qq
           |  FROM pairs p JOIN g USING (grp) JOIN t USING (tok) CROSS JOIN n),
           |acc AS (SELECT grp,
           |    sum(0.5 * (pp * ln(pp / ((pp + qq) / 2.0))
           |             + qq * ln(qq / ((pp + qq) / 2.0)))) AS js_p,
           |    sum(qq) AS q_p
           |  FROM terms GROUP BY grp),
           |d AS (SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs
           |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
           |  GROUP BY 1)
           |SELECT acc.grp AS source, d.n_docs, g.n_tokens,
           |  round(js_p + 0.5 * ln(2.0) * (1.0 - q_p), 6) AS js_nats
           |FROM acc JOIN g USING (grp) JOIN d USING (grp)
           |ORDER BY source""".stripMargin,

      // int8 ANN replay: the same quantizer as q126, then pure integer
      // dot products (exact in doubles — far below 2^53), so sim is
      // bit-identical with no float-sum-order caveat anywhere.
      "q128_ann_int8" ->
        s"""WITH ${int8QuantizedSql("a", "s")},
           |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nn FROM qz),
           |q AS (SELECT * FROM n WHERE vec_id < 5 AND nn > 0),
           |c AS (SELECT * FROM n WHERE vec_id >= 5 AND nn > 0),
           |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    list_dot_product(q.qv, c.qv) / (sqrt(q.nn) * sqrt(c.nn)) AS sim
           |  FROM q CROSS JOIN c)
           |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
           |  SELECT query_id, neighbor_id, sim,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id ASC) AS rank FROM p)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // int8 auto-gate IVF-route replay: q128's quantizer CTEs feed
      // q30's IVF algebra — centroids = 16 lowest-id QUANTIZED corpus
      // vectors, cosine assignment/probing with the zero-norm → 0.0
      // convention of the engine's pairSim, integer dot products exact
      // in doubles so sims are bit-identical cross-engine.
      "q147_ann_int8_ivf" ->
        s"""WITH ${int8QuantizedSql("a", "s")},
           |n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM qz),
           |q AS (SELECT * FROM n WHERE vec_id < 5),
           |c AS (SELECT * FROM n WHERE vec_id >= 5),
           |cent AS (SELECT vec_id AS centroid_id, qv AS cv, nrm AS cn
           |         FROM c ORDER BY vec_id LIMIT 16),
           |assigned AS (
           |  SELECT vec_id AS id, qv AS vec, nrm AS vn, centroid_id FROM (
           |    SELECT c.vec_id, c.qv, c.nrm, ct.centroid_id,
           |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
           |        (CASE WHEN c.nrm = 0 OR ct.cn = 0 THEN 0.0
           |              ELSE list_dot_product(c.qv, ct.cv) / (c.nrm * ct.cn) END) DESC,
           |        ct.centroid_id ASC) AS rn
           |    FROM c CROSS JOIN cent ct)
           |  WHERE rn = 1),
           |probes AS (
           |  SELECT vec_id AS query_id, qv, nrm AS qn, centroid_id FROM (
           |    SELECT q.vec_id, q.qv, q.nrm, ct.centroid_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        (CASE WHEN q.nrm = 0 OR ct.cn = 0 THEN 0.0
           |              ELSE list_dot_product(q.qv, ct.cv) / (q.nrm * ct.cn) END) DESC,
           |        ct.centroid_id ASC) AS rn
           |    FROM q CROSS JOIN cent ct)
           |  WHERE rn <= 4),
           |scored AS (
           |  SELECT p.query_id, a.id AS neighbor_id,
           |    CASE WHEN p.qn = 0 OR a.vn = 0 THEN 0.0
           |         ELSE list_dot_product(p.qv, a.vec) / (p.qn * a.vn) END AS sim
           |  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id)
           |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
           |  SELECT query_id, neighbor_id, sim,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id ASC) AS rank
           |  FROM scored)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // PQ replay: grouped Lloyd per subspace (L2 assignment, ties →
      // lowest centroid id — list_distance is monotone with the
      // engine's squared form), then the code table.
      "q130_pq_codes" ->
        s"""WITH ${pqSql("")}
           |SELECT id AS vec_id, CAST(subspace AS INT) AS subspace, code
           |FROM pcodes ORDER BY vec_id, subspace""".stripMargin,

      // ADC replay: per-query subspace distance tables joined to the
      // code table; adist = sum of the m table entries.
      "q131_pq_ann" ->
        s"""WITH $pqAdcSql
           |SELECT query_id, rank, neighbor_id, round(adist, 6) AS adist
           |FROM pqtop ORDER BY query_id, rank""".stripMargin,

      "q138_k_anonymity" ->
        """WITH g AS (SELECT c_nationkey, c_mktsegment,
          |    CAST(count(*) AS BIGINT) AS gn
          |  FROM customer GROUP BY 1, 2)
          |SELECT CAST(sum(gn) AS BIGINT) AS n_rows,
          |  CAST(count(*) AS BIGINT) AS n_groups,
          |  CAST(min(gn) AS BIGINT) AS min_group_size,
          |  CAST(coalesce(sum(CASE WHEN gn < 10 THEN gn END), 0) AS BIGINT) AS rows_below_k,
          |  round(CAST(coalesce(sum(CASE WHEN gn < 10 THEN gn END), 0) AS DOUBLE)
          |    / CAST(sum(gn) AS DOUBLE), 6) AS share_below_k
          |FROM g""".stripMargin,

      // l-diversity replay: (QI, sensitive) cell counts, per-group
      // entropy via the same ln(gn) − Σcn·ln(cn)/gn algebra, scalar
      // roll-up; rounds to 6 after the group-min so the float-sum
      // ordering difference between engines stays below the compare.
      "q143_l_diversity" ->
        """WITH cell AS (SELECT c_nationkey, c_mktsegment,
          |    CAST(floor(c_acctbal / 2000) AS INT) AS bal_band,
          |    CAST(count(*) AS BIGINT) AS cn
          |  FROM customer GROUP BY 1, 2, 3),
          |g AS (SELECT c_nationkey, c_mktsegment,
          |    CAST(sum(cn) AS BIGINT) AS gn,
          |    CAST(count(*) AS BIGINT) AS nd,
          |    sum(CAST(cn AS DOUBLE) * ln(CAST(cn AS DOUBLE))) AS sl
          |  FROM cell GROUP BY 1, 2)
          |SELECT CAST(sum(gn) AS BIGINT) AS n_rows,
          |  CAST(count(*) AS BIGINT) AS n_groups,
          |  CAST(min(nd) AS BIGINT) AS min_distinct_l,
          |  CAST(coalesce(sum(CASE WHEN nd < 3 THEN gn END), 0) AS BIGINT) AS rows_below_l,
          |  round(CAST(coalesce(sum(CASE WHEN nd < 3 THEN gn END), 0) AS DOUBLE)
          |    / CAST(sum(gn) AS DOUBLE), 6) AS share_below_l,
          |  round(min(exp(ln(CAST(gn AS DOUBLE)) - sl / CAST(gn AS DOUBLE))), 6)
          |    AS min_entropy_l
          |FROM g""".stripMargin,

      // audio-histogram replay (q109's shape for PCM): sample i of doc
      // d is ((s0 + i*s1) mod 65536) - 32768, so its 16-bucket index is
      // ((s0 + i*s1) mod 65536) * 16 // 65536 — generate_series replays
      // the stream, the histogram is pure counting.
      "q144_audio_histogram" ->
        s"""WITH d AS (SELECT doc_id,
           |    CAST(64 + ((${hd(5)} * 16 + ${hd(6)}) * 256 + (${hd(7)} * 16 + ${hd(8)})) % 960 AS INT) AS n,
           |    CAST((${hd(9)} * 16 + ${hd(10)}) * 256 + (${hd(11)} * 16 + ${hd(12)}) AS INT) AS s0,
           |    CAST(1 + (${hd(13)} * 16 + ${hd(14)}) % 255 AS INT) AS s1
           |  FROM documents WHERE text IS NOT NULL),
           |px AS (SELECT doc_id, n, s0, s1,
           |    unnest(generate_series(0, n - 1)) AS i FROM d),
           |pc AS (SELECT doc_id,
           |    ((s0 + i * s1) % 65536) * 16 // 65536 AS bucket,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM px GROUP BY 1, 2),
           |b AS (SELECT doc_id, n,
           |    unnest(generate_series(0, 15)) AS bucket FROM d)
           |SELECT b.doc_id, CAST(b.bucket AS INT) AS bucket,
           |  CAST((coalesce(pc.c, 0) * 2000000 + b.n) // (2 * b.n)
           |    AS DOUBLE) / 1000000.0 AS frac
           |FROM b LEFT JOIN pc ON pc.doc_id = b.doc_id AND pc.bucket = b.bucket
           |ORDER BY 1, 2""".stripMargin,

      // video-histogram replay (q109's shape over frames): pixel j of
      // doc d — j flat over width·height·nFrames — is
      // (s0 + j*s1) mod 256, so its 16-bucket index is
      // ((s0 + j*s1) mod 256) * 16 // 256. The container's frame rate
      // never appears: the embedding is content-only by construction.
      "q146_video_histogram" ->
        s"""WITH d AS (SELECT doc_id,
           |    CAST((8 + (${hd(1)} * 16 + ${hd(2)}) % 8)
           |       * (8 + (${hd(3)} * 16 + ${hd(4)}) % 8)
           |       * (2 + (${hd(5)} * 16 + ${hd(6)}) % 4) AS BIGINT) AS n,
           |    CAST((${hd(7)} * 16 + ${hd(8)}) * 256 + (${hd(9)} * 16 + ${hd(10)}) AS INT) AS s0,
           |    CAST(1 + (${hd(11)} * 16 + ${hd(12)}) % 255 AS INT) AS s1
           |  FROM documents WHERE text IS NOT NULL),
           |px AS (SELECT doc_id, n, s0, s1,
           |    unnest(generate_series(0, n - 1)) AS j FROM d),
           |pc AS (SELECT doc_id,
           |    ((s0 + j * s1) % 256) * 16 // 256 AS bucket,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM px GROUP BY 1, 2),
           |b AS (SELECT doc_id, n,
           |    unnest(generate_series(0, 15)) AS bucket FROM d)
           |SELECT b.doc_id, CAST(b.bucket AS INT) AS bucket,
           |  round(CAST(coalesce(pc.c, 0) AS DOUBLE) / b.n, 6) AS frac
           |FROM b LEFT JOIN pc ON pc.doc_id = b.doc_id AND pc.bucket = b.bucket
           |ORDER BY 1, 2""".stripMargin,

      // streaming sessionize replay: the stream's final per-user state
      // must equal the batch lag-window sessionize over the full table
      // (q18's algebra) — the session-increment rule depends only on
      // consecutive timestamp gaps, which micro-batch boundaries in a
      // time-ordered feed never change.
      "q145_streaming_sessionize" ->
        """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
          |  count(*) AS n_events
          |FROM (
          |  SELECT user_id,
          |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM events)
          |GROUP BY user_id ORDER BY user_id""".stripMargin,

      // char-window dedup coverage: generate_series replays the
      // stride-20 window starts; everything after the substr is the
      // same fingerprint-count algebra as q55's.
      "q139_window_dedup" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
           |w AS (SELECT doc_id, md5(substr(text, CAST(i AS INT) + 1, 40)) AS fp
           |      FROM (SELECT doc_id, text,
           |              unnest(generate_series(0, CAST(length(text) - 40 AS BIGINT), 20)) AS i
           |            FROM dup WHERE text IS NOT NULL AND length(text) >= 40)),
           |pairs AS (SELECT doc_id, fp, count(*) AS c FROM w GROUP BY 1, 2),
           |dfreq AS (SELECT fp, count(*) AS n_docs FROM pairs GROUP BY 1),
           |perdoc AS (SELECT doc_id,
           |  CAST(sum(c) AS BIGINT) AS n_windows,
           |  CAST(sum(CASE WHEN n_docs > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_windows
           |  FROM pairs JOIN dfreq USING (fp) GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
           |  CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           |  round(coalesce(CAST(p.n_dup_windows AS DOUBLE) / p.n_windows, 0.0), 6) AS dup_window_frac
           |FROM dup d LEFT JOIN perdoc p USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      // keep-best dedup: row_number replays the (score DESC, id ASC)
      // arg-max the engine carries as a struct max.
      "q140_keep_best" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
           |sc AS (SELECT doc_id, text,
           |  (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
           |  (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS score
           |  FROM dup),
           |r AS (SELECT md5(text) AS fp, doc_id, score,
           |  row_number() OVER (PARTITION BY md5(text) ORDER BY score DESC, doc_id ASC) AS rn,
           |  count(*) OVER (PARTITION BY md5(text)) AS dup_count
           |  FROM sc)
           |SELECT fp, CAST(doc_id AS BIGINT) AS keep_id,
           |  CAST(score AS BIGINT) AS keep_score,
           |  CAST(dup_count AS BIGINT) AS dup_count
           |FROM r WHERE rn = 1 ORDER BY fp""".stripMargin,

      // span removal: row_number elects the global first occurrence per
      // fingerprint; islands-and-gaps merges removal intervals; the
      // ordered string_agg of inter-span gaps plus the tail suffix
      // replays the engine's fold rebuild.
      "q141_span_removal" -> spanRemovalSql(20),

      // Maximal-dup-span replay: stride-1 L-gram marking (ALL
      // occurrences of a duplicated gram), islands-and-gaps union of
      // the marked windows — the SQL image of the engine's
      // constant-width merge.
      "q197_max_dup_spans" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
           |w AS (SELECT doc_id, CAST(i AS INT) AS off,
           |        md5(substr(text, CAST(i AS INT) + 1, 40)) AS fp
           |      FROM (SELECT doc_id, text,
           |              unnest(generate_series(0, CAST(length(text) - 40 AS BIGINT), 1)) AS i
           |            FROM dup WHERE doc_id IS NOT NULL
           |              AND text IS NOT NULL AND length(text) >= 40)),
           |dfp AS (SELECT fp FROM w GROUP BY fp HAVING count(*) > 1),
           |m AS (SELECT doc_id, off FROM w JOIN dfp USING (fp)),
           |isl AS (SELECT doc_id, off,
           |         CASE WHEN off <= coalesce(max(off + 40) OVER (PARTITION BY doc_id
           |              ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |              -1) THEN 0 ELSE 1 END AS brk
           |        FROM m),
           |g AS (SELECT doc_id, off,
           |        sum(brk) OVER (PARTITION BY doc_id ORDER BY off) AS grp FROM isl)
           |SELECT doc_id, CAST(min(off) AS BIGINT) AS span_start,
           |  CAST(max(off) + 40 AS BIGINT) AS span_end,
           |  CAST(max(off) + 40 - min(off) AS BIGINT) AS span_len
           |FROM g GROUP BY doc_id, grp
           |ORDER BY doc_id, span_start""".stripMargin,

      // Stride-1 span-removal replay: q141's SQL with step 1 — the
      // full-precision rewrite (first occurrence elected per
      // fingerprint, islands-and-gaps merge, gap string_agg rebuild).
      "q198_exact_substr_rewrite" -> spanRemovalSql(1),

      // 1-bit sign packing replay: the same 32-dim BIGINT words, same
      // shifts, same tie-at-zero → 0 convention, word list rendered
      // through the same comma join.
      "q199_binary_sign" ->
        """WITH v AS (SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
          |  FROM embeddings WHERE embedding IS NOT NULL)
          |SELECT vec_id,
          |  array_to_string(list_transform(
          |    range(0, CAST(ceil(len(vv) / 32.0) AS INT)), w ->
          |      CAST(CAST(coalesce(list_sum(list_transform(
          |        range(w * 32, CAST(least(w * 32 + 32, len(vv)) AS INT)), i ->
          |          CASE WHEN vv[i + 1] > 0 THEN (CAST(1 AS BIGINT) << (i - w * 32))
          |               ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS VARCHAR)),
          |    ',') AS words,
          |  CAST(coalesce(list_sum(list_transform(vv, x ->
          |    CASE WHEN x > 0 THEN 1 ELSE 0 END)), 0) AS INT) AS n_pos
          |FROM v ORDER BY vec_id""".stripMargin,

      // Binary ANN replay: the identical two-stage contract — Hamming
      // top-40 on the packed words (integer xor/popcount, id
      // tie-break), exact double-cosine rerank over the candidates.
      "q200_hamming_ann" ->
        s"""WITH $packedWordsSql,
           |q AS (SELECT * FROM b WHERE vec_id < 5),
           |c AS (SELECT * FROM b WHERE vec_id >= 5),
           |hd AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    q.vv AS qv, c.vv AS cv,
           |    CAST(coalesce(list_sum(list_transform(
           |      range(0, CAST(len(q.words) AS INT)), i ->
           |        CAST(bit_count(xor(q.words[i + 1], c.words[i + 1])) AS BIGINT))),
           |      0) AS BIGINT) AS hd
           |  FROM q CROSS JOIN c),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY hd ASC, neighbor_id ASC) AS crank FROM hd),
           |rr AS (SELECT query_id, neighbor_id, hd,
           |    list_cosine_similarity(qv, cv) AS sim FROM cand WHERE crank <= 40)
           |SELECT query_id, rank, neighbor_id, hd, round(sim, 6) AS sim FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY sim DESC, neighbor_id ASC) AS rank FROM rr)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // Simplified-silhouette replay (shared kmeans CTE chain with q38).
      "q201_silhouette" -> q201Sql,

      // IVF-pruned binary ANN replay: q30's coarse-index CTEs (seed
      // centroids, cell assignment, nprobe probes) + the packed-word
      // Hamming rank restricted to probed cells + the shared
      // exact-cosine rerank.
      "q207_hamming_ann_ivf" -> q207HammingIvfSql,

      // The auto-gate registration routes to the SAME IVF plan
      // (maxFlatRows 100 < 495 corpus vectors), so the oracle IS
      // q207's replay — the gate may pick a route, never change it.
      "q211_hamming_ann_auto" -> q207HammingIvfSql,

      // Line-boilerplate replay: same in-query multi-line derivation,
      // split on chr(10) keeping empties, trimmed-line distinct-doc
      // threshold, anti-join rebuild with ordered string_agg.
      "q212_line_boilerplate" ->
        """WITH d AS (SELECT doc_id,
          |    CASE WHEN doc_id % 3 = 0
          |      THEN regexp_replace(text, ' table ', chr(10), 'g')
          |           || chr(10) || 'subscribe to our newsletter'
          |      ELSE regexp_replace(text, ' table ', chr(10), 'g') END AS text
          |  FROM documents),
          |parts AS (SELECT doc_id,
          |    unnest(range(len(ls))) AS i, unnest(ls) AS line FROM (
          |    SELECT doc_id, string_split(text, chr(10)) AS ls FROM d
          |    WHERE text IS NOT NULL)),
          |bad AS (SELECT trim(line) AS k FROM parts
          |  WHERE len(trim(line)) > 0
          |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 30),
          |badpos AS (SELECT doc_id, i FROM parts
          |  JOIN bad ON trim(parts.line) = bad.k),
          |nrem AS (SELECT doc_id, count(*) AS n FROM badpos GROUP BY 1),
          |kept AS (SELECT p.doc_id, p.i, p.line FROM parts p
          |  ANTI JOIN badpos b ON p.doc_id = b.doc_id AND p.i = b.i),
          |clean AS (SELECT doc_id,
          |    coalesce(string_agg(line, chr(10) ORDER BY i), '') AS ct
          |  FROM kept GROUP BY 1)
          |SELECT d.doc_id,
          |  CASE WHEN nrem.n IS NULL THEN d.text
          |       ELSE coalesce(clean.ct, '') END AS clean_text,
          |  coalesce(nrem.n, 0) AS n_lines_removed
          |FROM d LEFT JOIN nrem USING (doc_id) LEFT JOIN clean USING (doc_id)
          |ORDER BY doc_id""".stripMargin,

      // PII replay: identical RE2/Java-compatible patterns, same
      // injected contact tail, counts on the original text, chained
      // global replaces email -> IP -> phone.
      "q213_pii_redact" ->
        """WITH d AS (SELECT doc_id, text
          |    || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
          |    || CASE WHEN doc_id % 2 = 0
          |         THEN ' from 10.1.' || CAST(doc_id % 200 AS VARCHAR) || '.9'
          |         ELSE '' END
          |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END
          |    AS text FROM documents)
          |SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS clean_text,
          |  CAST(len(regexp_extract_all(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(text,
          |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
          |  CAST(len(regexp_extract_all(text,
          |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phones
          |FROM d ORDER BY doc_id""".stripMargin,

      // Bootstrap-CI replay: same md5 6-hex-digit resample indices,
      // same replica means, quantile_cont ≡ Spark's exact percentile.
      "q214_bootstrap_ci" ->
        """WITH base AS (SELECT vec_id,
          |    CASE WHEN (label % 2) =
          |      (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
          |      THEN 1 ELSE 0 END AS c
          |  FROM embeddings
          |  WHERE embedding IS NOT NULL AND label IS NOT NULL
          |    AND vec_id IS NOT NULL),
          |idx AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i2, c
          |  FROM base),
          |n AS (SELECT count(*) AS n FROM base),
          |draws AS (SELECT tb.range AS b,
          |    ((instr('0123456789abcdef', substr(md5('bs0:' || CAST(tb.range AS VARCHAR) || ':' || CAST(ti.i2 AS VARCHAR)), 1, 1)) - 1) * 1048576
          |   + (instr('0123456789abcdef', substr(md5('bs0:' || CAST(tb.range AS VARCHAR) || ':' || CAST(ti.i2 AS VARCHAR)), 2, 1)) - 1) * 65536
          |   + (instr('0123456789abcdef', substr(md5('bs0:' || CAST(tb.range AS VARCHAR) || ':' || CAST(ti.i2 AS VARCHAR)), 3, 1)) - 1) * 4096
          |   + (instr('0123456789abcdef', substr(md5('bs0:' || CAST(tb.range AS VARCHAR) || ':' || CAST(ti.i2 AS VARCHAR)), 4, 1)) - 1) * 256
          |   + (instr('0123456789abcdef', substr(md5('bs0:' || CAST(tb.range AS VARCHAR) || ':' || CAST(ti.i2 AS VARCHAR)), 5, 1)) - 1) * 16
          |   + (instr('0123456789abcdef', substr(md5('bs0:' || CAST(tb.range AS VARCHAR) || ':' || CAST(ti.i2 AS VARCHAR)), 6, 1)) - 1))
          |    % (SELECT n FROM n) AS i2
          |  FROM range(200) tb CROSS JOIN (SELECT i2 FROM idx) ti),
          |reps AS (SELECT d.b, avg(x.c) AS racc
          |  FROM draws d JOIN idx x USING (i2) GROUP BY d.b)
          |SELECT (SELECT n FROM n) AS n, 200 AS n_boot,
          |  round((SELECT avg(c) FROM base), 6) AS acc,
          |  round(quantile_cont(racc, 0.025), 6) AS ci_lo,
          |  round(quantile_cont(racc, 0.975), 6) AS ci_hi
          |FROM reps""".stripMargin,

      // Cohen's kappa replay: confusion cells, full-outer marginal
      // join, DECIMAL(38,0) products; kappa derived from the
      // UNROUNDED po/pe (the engine's order — rounding only the
      // published columns), identical double ops on exact sums.
      "q218_cohen_kappa" ->
        """WITH base AS (SELECT CAST(label % 3 AS INT) AS a,
          |    CAST((label + CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END) % 3
          |      AS INT) AS bb
          |  FROM embeddings
          |  WHERE label IS NOT NULL AND vec_id IS NOT NULL),
          |cells AS (SELECT a, bb, count(*) AS c FROM base GROUP BY 1, 2),
          |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
          |    CAST(coalesce(sum(CASE WHEN a = bb THEN c END), 0) AS BIGINT)
          |      AS agree FROM cells),
          |ma AS (SELECT a AS k, sum(c) AS na FROM cells GROUP BY 1),
          |mb AS (SELECT bb AS k, sum(c) AS nb FROM cells GROUP BY 1),
          |pe AS (SELECT sum(CAST(coalesce(na, 0) AS DECIMAL(38,0)) *
          |    CAST(coalesce(nb, 0) AS DECIMAL(38,0))) AS pen
          |  FROM ma FULL OUTER JOIN mb USING (k))
          |SELECT n, agree AS n_agree, round(po0, 6) AS po,
          |  round(pe0, 6) AS pe,
          |  round(CASE WHEN pe0 < 1.0 THEN (po0 - pe0) / (1.0 - pe0) END, 6)
          |    AS kappa
          |FROM (SELECT n, agree,
          |    CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po0,
          |    CAST(pen AS DOUBLE) /
          |      CAST(CAST(n AS DECIMAL(38,0)) * n AS DOUBLE) AS pe0
          |  FROM tot, pe)""".stripMargin,

      // Code-fence replay: same RE2-safe pattern, parallel unnest of
      // the two capture groups zips positionally like arrays_zip.
      "q219_code_fences" ->
        """WITH d AS (SELECT doc_id, text ||
          |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || '```python' ||
          |      chr(10) || 'print(' || CAST(doc_id % 100 AS VARCHAR) ||
          |      ')' || chr(10) || 'x = 1' || chr(10) || '```' || chr(10) ||
          |      'and' || chr(10) || '```' || chr(10) || 'plain block' ||
          |      chr(10) || '```' ELSE '' END ||
          |    CASE WHEN doc_id % 6 = 0 THEN chr(10) || '```sql' ||
          |      chr(10) || 'SELECT ' || CAST(doc_id % 10 AS VARCHAR) ||
          |      ';' || chr(10) || '```' ELSE '' END AS text
          |  FROM documents WHERE text IS NOT NULL),
          |m AS (SELECT doc_id,
          |    unnest(regexp_extract_all(text,
          |      '(?s)```([a-zA-Z0-9+_-]*)\n(.*?)```', 1)) AS lang,
          |    unnest(regexp_extract_all(text,
          |      '(?s)```([a-zA-Z0-9+_-]*)\n(.*?)```', 2)) AS body
          |  FROM d)
          |SELECT doc_id, lang, count(*) AS n_blocks,
          |  CAST(coalesce(sum(length(body)), 0) AS BIGINT) AS n_code_chars
          |FROM m GROUP BY 1, 2 ORDER BY doc_id, lang""".stripMargin,

      // ROC-AUC replay: same rank-sum identity over the grouped score
      // table, window cumsum standing in for the prefix pass; exact
      // DECIMAL(38,0) accumulation, one double division, round 6.
      "q217_auc_roc" ->
        """WITH b AS (SELECT CAST(label % 2 AS INT) AS y,
          |    CAST(embedding[1] AS DOUBLE)
          |      + CAST(label % 2 AS DOUBLE) * 0.3 AS s
          |  FROM embeddings
          |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
          |c AS (SELECT s, count(*) AS cnt, sum(y) AS pos FROM b GROUP BY s),
          |r AS (SELECT cnt, pos, sum(cnt) OVER (ORDER BY s) AS cum FROM c),
          |a AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
          |    CAST(sum(cnt) AS BIGINT) AS n,
          |    sum(CAST(pos AS DECIMAL(38,0)) *
          |        (CAST(cum AS DECIMAL(38,0)) * 2 - cnt + 1)) AS twoR
          |  FROM r)
          |SELECT n_pos, n_neg, auc, round(auc * 2 - 1, 6) AS gini FROM (
          |  SELECT np AS n_pos, n - np AS n_neg,
          |    round(CASE WHEN np > 0 AND n > np THEN
          |      CAST(twoR - CAST(np AS DECIMAL(38,0)) * (np + 1) AS DOUBLE)
          |      / CAST(CAST(np AS DECIMAL(38,0)) * 2 * (n - np) AS DOUBLE)
          |      END, 6) AS auc
          |  FROM a)""".stripMargin,

      // Matryoshka replay: exact cosine ranking per prefix width (same
      // split and tie-break as q28's oracle), overlap vs the m = 64
      // rows as ground truth.
      "q215_matryoshka_recall" -> {
        val ranked = Seq(8, 16, 32, 64).map { m =>
          s"""SELECT $m AS m, q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(list_slice(q.v, 1, $m),
             |        list_slice(c.v, 1, $m)) DESC, c.vec_id ASC) AS rank
             |  FROM qv q CROSS JOIN cv c""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH qv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings
           |  WHERE vec_id < 5 AND embedding IS NOT NULL AND len(embedding) >= 64),
           |cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings
           |  WHERE vec_id >= 5 AND embedding IS NOT NULL AND len(embedding) >= 64),
           |ranked AS ($ranked),
           |top AS (SELECT * FROM ranked WHERE rank <= 10),
           |truth AS (SELECT query_id, neighbor_id FROM top WHERE m = 64)
           |SELECT t.query_id, CAST(t.m AS INT) AS m,
           |  CAST(count(x.neighbor_id) AS BIGINT) AS n_overlap,
           |  round(CAST(count(x.neighbor_id) AS DOUBLE) / 10.0, 6) AS recall
           |FROM top t LEFT JOIN truth x
           |  ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
           |GROUP BY t.query_id, t.m ORDER BY t.query_id, t.m""".stripMargin
      },

      // Per-source frequent tokens replay: exact per-group counts with
      // each group's own ceil(support * n_g) floor.
      "q216_frequent_tokens_by" -> {
        val toks = toksSql("text")
        s"""WITH tk AS (SELECT source AS grp, u.t AS item
           |    FROM documents, UNNEST($toks) AS u(t)
           |    WHERE source IS NOT NULL),
           |  tot AS (SELECT grp, count(*) AS n FROM tk GROUP BY grp)
           |SELECT tk.grp AS source, tk.item, count(*) AS cnt
           |FROM tk JOIN tot USING (grp)
           |GROUP BY tk.grp, tk.item, tot.n
           |HAVING count(*) >=
           |  CAST(ceil(CAST(0.005 AS DOUBLE) * tot.n) AS BIGINT)
           |ORDER BY source, item""".stripMargin
      },

      // JL projection replay: the same md5-parity sign matrix
      // (±1/√16 = ±0.25, exact dyadic) rebuilt in SQL, left-fold sum.
      "q208_jl_projection" ->
        """WITH v AS (SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
          |  FROM embeddings
          |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
          |S AS (SELECT j, list(sgn ORDER BY i) AS sv FROM (
          |    SELECT j, i,
          |      CASE WHEN substr(md5('jl0:' || i || ':' || j), 1, 1)
          |             IN ('0','1','2','3','4','5','6','7')
          |           THEN CAST(0.25 AS DOUBLE)
          |           ELSE CAST(-0.25 AS DOUBLE) END AS sgn
          |    FROM range(16) t(j) CROSS JOIN range(64) u(i)) GROUP BY j),
          |p AS (SELECT vec_id, j,
          |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |      list_transform(range(64), i -> vv[i + 1] * sv[i + 1])),
          |      (acc, x) -> acc + x) AS pj
          |  FROM v CROSS JOIN S)
          |SELECT vec_id, CAST(j AS INT) AS j, round(pj, 6) AS out
          |FROM p ORDER BY vec_id, j""".stripMargin,

      // Corpus datasheet replay: the same per-doc kernels (token
      // count, quality ladder, token fingerprint), one aggregate,
      // UNION ALL unpivot to (metric, value).
      "q205_corpus_report" -> {
        // zero-guarded like the engine's punctRatio when(n === 0, 0.0)
        // branch: an empty-string doc must not diverge on 0/0
        val punct = s"""CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / length(text) END"""
        val swRatio = s"CAST(len(list_filter(${toksSql("text")}, x -> list_contains(${dlist(stop("en"))}, x))) AS DOUBLE) / len(${toksSql("text")})"
        val mtl = s"CAST(list_sum(list_transform(${toksSql("text")}, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len(${toksSql("text")})"
        val quality =
          s"""CAST((CASE WHEN len(${toksSql("text")}) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3
             |  + (CASE WHEN $mtl >= 2.0 AND $mtl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
             |  + (CASE WHEN $punct <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
             |  + (CASE WHEN $swRatio >= 0.01 THEN 1.0 ELSE 0.0 END) * 0.2 AS DOUBLE)""".stripMargin
        s"""WITH b AS (SELECT text, lang, source,
           |    CASE WHEN text IS NOT NULL
           |         THEN CAST(len(${toksSql("text")}) AS BIGINT) END AS nt,
           |    CASE WHEN text IS NOT NULL THEN $quality END AS q,
           |    CASE WHEN text IS NOT NULL
           |         THEN md5(array_to_string(${toksSql("text")}, ' ')) END AS fp
           |  FROM documents WHERE doc_id IS NOT NULL),
           |a AS (SELECT count(*) AS nd,
           |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS nn,
           |    count(nt) AS ntx, sum(nt) AS tt, min(nt) AS mn, max(nt) AS mx,
           |    sum(CASE WHEN nt < 50 THEN 1 ELSE 0 END) AS ns,
           |    sum(CAST(q AS DECIMAL(38,12))) AS sq,
           |    count(DISTINCT fp) AS nfp, count(DISTINCT lang) AS nl,
           |    count(DISTINCT source) AS nsr FROM b)
           |SELECT metric, value FROM (
           |  SELECT 'n_docs' AS metric, CAST(nd AS DOUBLE) AS value FROM a
           |  UNION ALL SELECT 'n_null_text', CAST(nn AS DOUBLE) FROM a
           |  UNION ALL SELECT 'total_tokens', CAST(tt AS DOUBLE) FROM a
           |  UNION ALL SELECT 'mean_tokens',
           |    round(CAST(tt AS DOUBLE) / nullif(ntx, 0), 6) FROM a
           |  UNION ALL SELECT 'min_tokens', CAST(mn AS DOUBLE) FROM a
           |  UNION ALL SELECT 'max_tokens', CAST(mx AS DOUBLE) FROM a
           |  UNION ALL SELECT 'short_frac',
           |    round(CAST(ns AS DOUBLE) / nullif(ntx, 0), 6) FROM a
           |  UNION ALL SELECT 'mean_quality',
           |    round(CAST(sq AS DOUBLE) / nullif(ntx, 0), 6) FROM a
           |  UNION ALL SELECT 'dup_frac',
           |    round(1.0 - CAST(nfp AS DOUBLE) / nullif(ntx, 0), 6) FROM a
           |  UNION ALL SELECT 'n_langs', CAST(nl AS DOUBLE) FROM a
           |  UNION ALL SELECT 'n_sources', CAST(nsr AS DOUBLE) FROM a)
           |ORDER BY metric""".stripMargin
      },

      // Calibration replay: q21's langid chain, confidence = winning
      // share of stopword hits, equal-width bins, DECIMAL confidence
      // sums, wgap = |Σcorrect − Σconf| / N per bin.
      "q204_calibration_ece" -> q204Sql,

      // The streaming twin's per-trigger emissions max-merge to the
      // SAME per-bin sums, so the identical oracle certifies
      // stream == batch == DuckDB in one row.
      "q206_streaming_calibration" -> q204Sql,

      // Decontamination-rewrite replay: q198's islands-and-gaps chain
      // with the marking swapped to "fp occurs in the test slice's
      // distinct window fingerprints" and NO first-occurrence
      // election.
      "q210_decontaminate_rewrite" ->
        s"""WITH b AS (SELECT doc_id, text FROM documents),
           |tw AS (SELECT DISTINCT md5(substr(text, CAST(i AS INT) + 1, 40)) AS fp
           |       FROM (SELECT text,
           |               unnest(generate_series(0, CAST(length(text) - 40 AS BIGINT), 1)) AS i
           |             FROM documents WHERE doc_id % 10 = 0
           |               AND text IS NOT NULL AND length(text) >= 40)),
           |w AS (SELECT doc_id, CAST(i AS INT) AS off,
           |        md5(substr(text, CAST(i AS INT) + 1, 40)) AS fp
           |      FROM (SELECT doc_id, text,
           |              unnest(generate_series(0, CAST(length(text) - 40 AS BIGINT), 1)) AS i
           |            FROM b WHERE text IS NOT NULL AND length(text) >= 40)),
           |rem AS (SELECT doc_id, off FROM w WHERE fp IN (SELECT fp FROM tw)),
           |$spanRewriteSql""".stripMargin,

      // IVF-PQ replay: the same ADC algebra as q131, restricted to the
      // codes of corpus vectors in each query's probed cells.
      "q142_ivfpq_ann" ->
        s"""WITH ${ivfPqAdcSql()}
           |SELECT query_id, rank, neighbor_id, round(adist, 6) AS adist
           |FROM ivftop ORDER BY query_id, rank""".stripMargin,

      // PQ recall audit: the ADC top-10 intersected with the exact L2
      // top-10 the same corpus would return — the eval every ANN
      // deployment runs before trusting its index.
      "q137_pq_recall" ->
        s"""WITH $pqAdcSql,
           |ex AS (SELECT query_id, neighbor_id FROM (
           |    SELECT q.id AS query_id, c.id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.id
           |        ORDER BY list_distance(q.v, c.v) ASC, c.id ASC) AS rank
           |    FROM pqq q CROSS JOIN pcorpus c)
           |  WHERE rank <= 10)
           |SELECT p.query_id,
           |  CAST(count(e.neighbor_id) AS BIGINT) AS n_overlap,
           |  round(CAST(count(e.neighbor_id) AS DOUBLE) / 10.0, 6) AS recall
           |FROM pqtop p LEFT JOIN ex e
           |  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
           |GROUP BY p.query_id ORDER BY p.query_id""".stripMargin,

      // DSIR replay: two smoothed unigram LMs (q56's convention, each
      // over its own corpus), per-doc tf-weighted log-RATIO average.
      "q132_importance_weights" -> {
        val toks = toksSql("text")
        s"""WITH ftgt AS (
           |  SELECT tok, count(*) AS c
           |  FROM (SELECT unnest($toks) AS tok FROM documents
           |        WHERE source IN ('src0', 'src1', 'src2', 'src3'))
           |  GROUP BY tok),
           |fraw AS (
           |  SELECT tok, count(*) AS c
           |  FROM (SELECT unnest($toks) AS tok FROM documents)
           |  GROUP BY tok),
           |mt AS (SELECT CAST(sum(c) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS vt FROM ftgt),
           |mr AS (SELECT CAST(sum(c) AS BIGINT) AS nr, CAST(count(*) AS BIGINT) AS vr FROM fraw),
           |tf AS (SELECT doc_id, tok, count(*) AS tf
           |       FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
           |       GROUP BY 1, 2),
           |sc AS (SELECT t.doc_id,
           |  CAST(sum(t.tf) AS BIGINT) AS n_tokens,
           |  sum(CAST(t.tf AS DOUBLE) *
           |      ln((coalesce(ft.c, 0) + 1) / CAST(mt.nt + mt.vt AS DOUBLE)))
           |    / CAST(sum(t.tf) AS DOUBLE) AS at,
           |  sum(CAST(t.tf AS DOUBLE) *
           |      ln((coalesce(fr.c, 0) + 1) / CAST(mr.nr + mr.vr AS DOUBLE)))
           |    / CAST(sum(t.tf) AS DOUBLE) AS ar
           |  FROM tf t
           |  LEFT JOIN ftgt ft USING (tok)
           |  LEFT JOIN fraw fr USING (tok)
           |  CROSS JOIN mt CROSS JOIN mr
           |  GROUP BY t.doc_id)
           |SELECT d.doc_id,
           |  CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           |  round(coalesce(sc.at, 0.0), 6) AS avg_logp_tgt,
           |  round(coalesce(sc.ar, 0.0), 6) AS avg_logp_raw,
           |  round(round(coalesce(sc.at, 0.0), 6)
           |      - round(coalesce(sc.ar, 0.0), 6), 6) AS avg_logratio
           |FROM documents d LEFT JOIN sc USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },

      // Curriculum replay: q20's quality formula, SQL percent_rank for
      // both ranks (ties share first-row rank = the kernel's rule),
      // the engine's blend/round order, floor cut into 3 phases.
      "q135_curriculum" -> {
        val toks = toksSql("text")
        // zero-guarded like the engine's punctRatio when(n === 0, 0.0)
        // branch: an empty-string doc must not diverge on 0/0
        val punct = s"""CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / length(text) END"""
        val swRatio = s"CAST(len(list_filter($toks, x -> list_contains(${dlist(stop("en"))}, x))) AS DOUBLE) / len($toks)"
        val mtl = s"CAST(list_sum(list_transform($toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len($toks)"
        val quality =
          s"""CAST((CASE WHEN len($toks) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3
             |      + (CASE WHEN $mtl >= 2.0 AND $mtl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
             |      + (CASE WHEN $punct <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
             |      + (CASE WHEN $swRatio >= 0.01 THEN 1.0 ELSE 0.0 END) * 0.2 AS DOUBLE)""".stripMargin
        s"""WITH b AS (SELECT doc_id,
           |    CAST(len($toks) AS BIGINT) AS n_tokens,
           |    round($quality, 6) AS quality
           |  FROM documents),
           |r AS (SELECT doc_id, n_tokens, quality,
           |    percent_rank() OVER (ORDER BY n_tokens) AS prl,
           |    percent_rank() OVER (ORDER BY quality) AS prq
           |  FROM b),
           |d AS (SELECT doc_id, n_tokens, quality,
           |    round(prl, 6) AS pr_len, round(prq, 6) AS pr_quality,
           |    round(0.5 * prl + 0.5 * (1.0 - prq), 6) AS difficulty
           |  FROM r)
           |SELECT doc_id, n_tokens, quality, pr_len, pr_quality, difficulty,
           |  CAST(least(floor(difficulty * 3), 2) AS INT) AS phase
           |FROM d ORDER BY doc_id""".stripMargin
      },

      // BPE pair replay: vocabulary with frequencies, char bigrams per
      // distinct word, frequency-weighted counts. Integer-exact.
      "q136_bpe_pairs" ->
        s"""WITH v AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest(${toksSql("text")}) AS tok FROM documents)
           |  GROUP BY tok),
           |p AS (SELECT unnest(list_transform(range(length(tok) - 1),
           |    i -> substr(tok, CAST(i + 1 AS INT), 2))) AS pair, freq
           |  FROM v WHERE length(tok) >= 2)
           |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
           |FROM p GROUP BY pair
           |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

      // PMI collocations replay: unigram + bigram streams from the
      // shared tokenizer, the engine's exact division order inside ln.
      "q134_collocations" ->
        s"""WITH base AS (SELECT ${toksSql("text")} AS w FROM documents),
           |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cw
           |       FROM (SELECT unnest(w) AS tok FROM base) GROUP BY tok),
           |nu AS (SELECT CAST(sum(cw) AS BIGINT) AS nu FROM uc),
           |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cxy FROM (
           |    SELECT unnest(list_transform(range(len(w) - 1),
           |      i -> w[i+1] || ' ' || w[i+2])) AS bg
           |    FROM base WHERE len(w) >= 2) GROUP BY bg),
           |nb AS (SELECT CAST(sum(cxy) AS BIGINT) AS nb FROM bc),
           |sc AS (SELECT split_part(bg, ' ', 1) AS w1,
           |         split_part(bg, ' ', 2) AS w2, bg, cxy
           |       FROM bc WHERE cxy >= 5),
           |j AS (SELECT sc.w1, sc.w2, sc.bg, sc.cxy,
           |        ln((CAST(sc.cxy AS DOUBLE) / CAST(nb.nb AS DOUBLE)) /
           |           ((CAST(u1.cw AS DOUBLE) / CAST(nu.nu AS DOUBLE))
           |          * (CAST(u2.cw AS DOUBLE) / CAST(nu.nu AS DOUBLE)))) AS pmi
           |      FROM sc JOIN uc u1 ON u1.tok = sc.w1
           |      JOIN uc u2 ON u2.tok = sc.w2
           |      CROSS JOIN nb CROSS JOIN nu)
           |SELECT w1, w2, cxy, round(pmi, 6) AS pmi
           |FROM j ORDER BY pmi DESC, bg ASC LIMIT 30""".stripMargin,

      "q104_salted_join" ->
        """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
          |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |GROUP BY 1 ORDER BY s_nationkey""".stripMargin,

      "q105_skew_report" ->
        """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
          |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM c)
          |SELECT user_id, cnt, round(CAST(cnt AS DOUBLE) / tot, 6) AS share
          |FROM c CROSS JOIN t
          |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,

      "q101_hist2d" ->
        """WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
          |    CAST(l_extendedprice AS DOUBLE) AS y
          |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
          |e AS (SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi FROM r)
          |SELECT CAST(CASE WHEN xhi = xlo THEN 0
          |    ELSE least(floor((x - xlo) / ((xhi - xlo) / 10)), 9) END AS INT) AS bx,
          |  CAST(CASE WHEN yhi = ylo THEN 0
          |    ELSE least(floor((y - ylo) / ((yhi - ylo) / 8)), 7) END AS INT) AS by,
          |  CAST(count(*) AS BIGINT) AS cnt
          |FROM r CROSS JOIN e GROUP BY 1, 2 ORDER BY bx, by""".stripMargin,

      "q102_mutual_info" ->
        """WITH cells AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
          |    CAST(count(*) AS BIGINT) AS o
          |  FROM orders WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
          |  GROUP BY 1, 2),
          |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
          |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
          |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
          |SELECT t.n,
          |  round(sum((CAST(o AS DOUBLE) / t.n) *
          |    ln((CAST(o AS DOUBLE) * t.n) / (CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE)))), 6) AS mi
          |FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN t
          |GROUP BY t.n""".stripMargin,

      "q103_trend" ->
        """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS n,
          |  round(regr_slope(value, date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 86400.0), 6) AS slope,
          |  round(regr_intercept(value, date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 86400.0), 6) AS intercept,
          |  round(corr(value, date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 86400.0), 6) AS r
          |FROM events
          |WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
          |GROUP BY 1 ORDER BY key""".stripMargin,

      "q100_lang_confusion" -> {
        def sw(lang: String) = s"len(list_filter($toks, x -> list_contains(${dlist(stop(lang))}, x)))"
        s"""WITH pred AS (SELECT lang AS declared,
           |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           |       WHEN ${sw("en")} = 0 AND ${sw("de")} = 0 AND ${sw("es")} = 0 AND ${sw("fr")} = 0 THEN 'und'
           |       WHEN ${sw("en")} >= ${sw("de")} AND ${sw("en")} >= ${sw("es")} AND ${sw("en")} >= ${sw("fr")} THEN 'en'
           |       WHEN ${sw("de")} >= ${sw("es")} AND ${sw("de")} >= ${sw("fr")} THEN 'de'
           |       WHEN ${sw("es")} >= ${sw("fr")} THEN 'es'
           |       ELSE 'fr' END AS detected
           |  FROM documents WHERE lang IS NOT NULL),
           |m AS (SELECT declared, detected, CAST(count(*) AS BIGINT) AS n
           |      FROM pred GROUP BY 1, 2),
           |t AS (SELECT declared, CAST(sum(n) AS BIGINT) AS tt FROM m GROUP BY 1)
           |SELECT m.declared, m.detected, m.n,
           |  round(CAST(m.n AS DOUBLE) / t.tt, 6) AS frac
           |FROM m JOIN t USING (declared)
           |ORDER BY declared, detected""".stripMargin
      },

      "q99_incremental_profile" ->
        s"""WITH s AS (
           |  SELECT count(n_chars) AS n,
           |         sum(n_chars) AS s1,
           |         sum(n_chars*n_chars) AS s2,
           |         sum(n_chars*n_chars*n_chars) AS s3,
           |         sum(n_chars*n_chars*n_chars*n_chars) AS s4,
           |         min(CAST(n_chars AS DOUBLE)) AS mn,
           |         max(CAST(n_chars AS DOUBLE)) AS mx
           |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
           |SELECT ${momentStatsSql(guarded = true, withQuantiles = false)}
           |FROM s""".stripMargin,

      "q98_conversion_lag" ->
        """WITH f AS (SELECT user_id,
          |    min(CASE WHEN event_type = 'view' THEN ts END) AS ff,
          |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS ft
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY 1),
          |lag AS (SELECT CAST(date_diff('second', ff, ft) AS DOUBLE) AS v
          |  FROM f WHERE ff IS NOT NULL AND ft IS NOT NULL AND ft >= ff),
          |g AS (SELECT v, CAST(count(*) AS BIGINT) * 1000000 AS w FROM lag GROUP BY 1),
          |t AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM g),
          |c AS (SELECT v, sum(w) OVER (ORDER BY v) AS cum FROM g)
          |SELECT CAST(q AS DOUBLE) AS quantile,
          |  CAST((SELECT min(v) FROM c, t
          |    WHERE cum >= ceil(CAST(q AS DOUBLE) * wt - CAST(q AS DOUBLE) * wt * 1e-12)) AS BIGINT) AS lag_s
          |FROM (VALUES (0.5), (0.9), (0.99)) AS qs(q)
          |ORDER BY quantile""".stripMargin,

      "q97_weighted_quantiles" ->
        """WITH g AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
          |    CAST(sum(CAST(round(CAST(l_quantity AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS w
          |  FROM lineitem
          |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
          |    AND round(CAST(l_quantity AS DOUBLE) * 1000000) > 0
          |  GROUP BY 1),
          |t AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM g),
          |c AS (SELECT v, sum(w) OVER (ORDER BY v) AS cum FROM g)
          |SELECT CAST(q AS DOUBLE) AS quantile,
          |  (SELECT min(v) FROM c, t
          |   WHERE cum >= ceil(CAST(q AS DOUBLE) * wt - CAST(q AS DOUBLE) * wt * 1e-12)) AS value
          |FROM (VALUES (0.25), (0.5), (0.75), (0.9)) AS qs(q)
          |ORDER BY quantile""".stripMargin,

      "q95_referential" ->
        """WITH c AS (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL),
          |k1 AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey IS NOT NULL),
          |k2 AS (SELECT DISTINCT c_custkey FROM customer
          |       WHERE c_custkey IS NOT NULL AND c_custkey < 700),
          |r1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |         CAST(count(*) FILTER (WHERE o_custkey NOT IN (SELECT c_custkey FROM k1)) AS BIGINT) AS v
          |       FROM c),
          |r2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |         CAST(count(*) FILTER (WHERE o_custkey NOT IN (SELECT c_custkey FROM k2)) AS BIGINT) AS v
          |       FROM c)
          |SELECT 'ref(o_custkey -> c_custkey)' AS rule, n, v AS n_violations,
          |  round(CASE WHEN n > 0 THEN CAST(n - v AS DOUBLE) / n ELSE 1.0 END, 6) AS pass_rate
          |FROM r1
          |UNION ALL
          |SELECT 'ref(o_custkey -> c_custkey)@lt700', n, v,
          |  round(CASE WHEN n > 0 THEN CAST(n - v AS DOUBLE) / n ELSE 1.0 END, 6)
          |FROM r2
          |ORDER BY rule""".stripMargin,

      "q96_benford" ->
        """WITH src AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
          |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
          |d AS (SELECT CAST(least(greatest(floor(v / pow(10.0, floor(log10(v)))), 1.0), 9.0) AS INT) AS dg FROM src),
          |counted AS (SELECT dg, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
          |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM counted),
          |digits AS (SELECT unnest(range(1, 10)) AS digit),
          |per AS (SELECT digits.digit, CAST(coalesce(counted.n, 0) AS BIGINT) AS n,
          |          CASE WHEN tot.t > 0 THEN CAST(coalesce(counted.n, 0) AS DOUBLE) / tot.t
          |               ELSE CAST(0.0 AS DOUBLE) END AS obs,
          |          log10(1.0 + 1.0 / digits.digit) AS exp
          |        FROM digits LEFT JOIN counted ON digits.digit = counted.dg
          |        CROSS JOIN tot),
          |t2 AS (SELECT sum(abs(obs - exp)) / 2.0 AS tvd FROM per)
          |SELECT CAST(per.digit AS INT) AS digit, per.n,
          |  round(per.obs, 6) AS observed, round(per.exp, 6) AS expected,
          |  round(t2.tvd, 6) AS tvd
          |FROM per CROSS JOIN t2 ORDER BY digit""".stripMargin,

      "q93_percent_rank_by" ->
        """SELECT event_id, event_type,
          |  round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 6) AS pct_rank
          |FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
          |ORDER BY event_id""".stripMargin,

      "q94_cooccurrence" ->
        """WITH a AS (SELECT DISTINCT user_id AS k, event_type AS i FROM events
          |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
          |SELECT l.i AS item_a, r.i AS item_b, CAST(count(*) AS BIGINT) AS n_keys
          |FROM a l JOIN a r ON l.k = r.k AND l.i < r.i
          |GROUP BY 1, 2 ORDER BY item_a, item_b""".stripMargin,

      "q91_cdc_merge" ->
        """WITH ch AS (SELECT o_custkey AS k, o_orderpriority AS seg,
          |    o_totalprice AS bal, o_orderkey AS seq,
          |    CASE WHEN o_orderkey % 10 < 2 THEN 'delete' ELSE 'upsert' END AS op
          |  FROM orders WHERE o_custkey IS NOT NULL),
          |latest AS (SELECT k, seg, bal, op FROM (
          |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
          |    FROM ch) WHERE rn = 1)
          |SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
          |WHERE c_custkey NOT IN (SELECT k FROM latest)
          |UNION ALL
          |SELECT k, seg, bal FROM latest WHERE op <> 'delete'
          |ORDER BY c_custkey""".stripMargin,

      "q92_scd2" ->
        """SELECT o_custkey, o_orderkey AS valid_from,
          |  lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS valid_to,
          |  lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) IS NULL AS is_current,
          |  o_totalprice
          |FROM orders WHERE o_custkey IS NOT NULL
          |ORDER BY o_custkey, valid_from""".stripMargin,

      "q89_moving_average" ->
        """WITH b AS (SELECT date_trunc('day', ts) AS h,
          |    CAST(count(*) AS BIGINT) AS n,
          |    sum(CAST(value AS DECIMAL(38,6))) AS s
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
          |r AS (SELECT min(h) AS lo, max(h) AS hi FROM b),
          |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM r),
          |f AS (SELECT spine.d, CAST(coalesce(b.n, 0) AS BIGINT) AS n,
          |        coalesce(b.s, CAST(0 AS DECIMAL(38,6))) AS s
          |      FROM spine LEFT JOIN b ON spine.d = b.h),
          |w AS (SELECT d, n, s,
          |        sum(s) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ms,
          |        count(*) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS cnt
          |      FROM f)
          |SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS bucket, n,
          |  round(CAST(s AS DOUBLE), 6) AS bucket_sum,
          |  round(CAST(ms AS DOUBLE) / cnt, 6) AS moving_avg
          |FROM w ORDER BY bucket""".stripMargin,

      "q90_active_users" ->
        """WITH a AS (SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS d
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |r AS (SELECT min(d) AS lo, max(d) AS hi FROM a),
          |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS s FROM r),
          |cur AS (SELECT d, CAST(count(*) AS BIGINT) AS cur FROM a GROUP BY 1),
          |roll AS (SELECT sp.s, CAST(count(DISTINCT a.u) AS BIGINT) AS roll
          |         FROM spine sp JOIN a
          |           ON a.d BETWEEN sp.s - INTERVAL 6 DAY AND sp.s
          |         GROUP BY 1)
          |SELECT strftime(sp.s, '%Y-%m-%d %H:%M:%S') AS bucket,
          |  CAST(coalesce(cur.cur, 0) AS BIGINT) AS active,
          |  CAST(coalesce(roll.roll, 0) AS BIGINT) AS active_window,
          |  round(CASE WHEN coalesce(roll.roll, 0) > 0
          |    THEN CAST(coalesce(cur.cur, 0) AS DOUBLE) / roll.roll
          |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS stickiness
          |FROM spine sp LEFT JOIN cur ON sp.s = cur.d
          |  LEFT JOIN roll ON sp.s = roll.s
          |ORDER BY bucket""".stripMargin,

      "q81_cumulative_users" ->
        """WITH fs AS (SELECT user_id, min(ts) AS first_ts FROM events
          |            WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
          |d AS (SELECT date_trunc('day', first_ts) AS day,
          |        CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY 1)
          |SELECT strftime(day, '%Y-%m-%d %H:%M:%S') AS bucket, n_new,
          |  CAST(sum(n_new) OVER (ORDER BY day) AS BIGINT) AS cum_users
          |FROM d ORDER BY bucket""".stripMargin,

      "q74_snapshot_diff" ->
        """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
          |n AS (SELECT o_orderkey, o_custkey, o_orderstatus,
          |        CASE WHEN o_orderkey % 13 = 0
          |             THEN o_totalprice * CAST(1.1 AS DOUBLE)
          |             ELSE o_totalprice END AS o_totalprice,
          |        o_orderdate, o_orderpriority
          |      FROM orders WHERE o_orderkey % 89 <> 0)
          |SELECT o_orderkey, change FROM (
          |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
          |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
          |         WHEN n.o_orderkey IS NULL THEN 'removed'
          |         WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
          |           OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
          |           OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
          |           OR (o.o_orderdate IS DISTINCT FROM n.o_orderdate)
          |           OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
          |         THEN 'changed' END AS change
          |  FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
          |WHERE change IS NOT NULL ORDER BY o_orderkey""".stripMargin,

      "q75_mad_outliers" ->
        """WITH c AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
          |           WHERE o_totalprice IS NOT NULL),
          |m AS (SELECT median(x) AS med FROM c),
          |d AS (SELECT median(abs(x - med)) AS mad FROM c, m)
          |SELECT CAST(count(*) AS BIGINT) AS n,
          |  round(med, 6) AS median, round(mad, 6) AS mad,
          |  CAST(coalesce(sum(CASE WHEN abs(x - med) >
          |    CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad
          |    THEN 1 END), 0) AS BIGINT) AS n_outliers,
          |  round(CAST(coalesce(sum(CASE WHEN abs(x - med) >
          |    CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad
          |    THEN 1 END), 0) AS DOUBLE) / count(*), 6) AS outlier_frac
          |FROM c, m, d GROUP BY med, mad""".stripMargin,

      "q76_mixture_weights" ->
        """WITH g AS (SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
          |             CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS tokens
          |           FROM documents WHERE source IS NOT NULL GROUP BY 1),
          |t AS (SELECT CAST(coalesce(sum(tokens), 0) AS BIGINT) AS tot,
          |             count(*) AS dcnt FROM g),
          |r AS (SELECT g.domain, g.n_docs, g.tokens,
          |        CAST(1.0 AS DOUBLE) / dcnt AS target_share,
          |        CAST(tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS cur_share
          |      FROM g, t),
          |r2 AS (SELECT *, CASE WHEN cur_share > 0 THEN target_share / cur_share
          |                      ELSE CAST(0.0 AS DOUBLE) END AS ratio FROM r),
          |m AS (SELECT max(ratio) AS mx FROM r2)
          |SELECT domain, n_docs, tokens, round(cur_share, 6) AS cur_share,
          |  round(target_share, 6) AS target_share,
          |  round(CASE WHEN mx > 0 THEN ratio / mx
          |             ELSE CAST(0.0 AS DOUBLE) END, 6) AS sample_rate
          |FROM r2, m ORDER BY domain""".stripMargin,

      "q87_temperature_mixture" ->
        """WITH g AS (SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n_docs,
          |             CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS tokens
          |           FROM documents WHERE lang IS NOT NULL GROUP BY 1),
          |t AS (SELECT coalesce(sum(pow(CAST(tokens AS DOUBLE), 0.5)), 0.0) AS z,
          |             CAST(coalesce(sum(tokens), 0) AS BIGINT) AS tot FROM g),
          |r AS (SELECT g.domain, g.n_docs, g.tokens,
          |        CASE WHEN z > 0 THEN pow(CAST(tokens AS DOUBLE), 0.5) / z
          |             ELSE CAST(0.0 AS DOUBLE) END AS target_share,
          |        CASE WHEN tot > 0 THEN CAST(tokens AS DOUBLE) / CAST(tot AS DOUBLE)
          |             ELSE CAST(0.0 AS DOUBLE) END AS cur_share
          |      FROM g, t),
          |r2 AS (SELECT *, CASE WHEN cur_share > 0 THEN target_share / cur_share
          |                      ELSE CAST(0.0 AS DOUBLE) END AS ratio FROM r),
          |m AS (SELECT max(ratio) AS mx FROM r2)
          |SELECT domain, n_docs, tokens, round(cur_share, 6) AS cur_share,
          |  round(target_share, 6) AS target_share,
          |  round(CASE WHEN mx > 0 THEN ratio / mx
          |             ELSE CAST(0.0 AS DOUBLE) END, 6) AS sample_rate
          |FROM r2, m ORDER BY domain""".stripMargin,

      "q77_rollup_revenue" ->
        """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_orders,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |  JOIN nation ON c_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name)
          |ORDER BY r_name, n_name""".stripMargin,

      "q78_pivot_events" ->
        """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
          |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view",
          |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
          |FROM events GROUP BY 1 ORDER BY dow""".stripMargin,

      "q72_funnel" ->
        """WITH s0 AS (SELECT user_id, min(ts) AS pt FROM events
          |            WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
          |            GROUP BY 1),
          |s1 AS (SELECT e.user_id, min(e.ts) AS pt FROM events e
          |       JOIN s0 ON e.user_id = s0.user_id
          |       WHERE e.event_type = 'click' AND e.ts >= s0.pt GROUP BY 1),
          |s2 AS (SELECT e.user_id, min(e.ts) AS pt FROM events e
          |       JOIN s1 ON e.user_id = s1.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts >= s1.pt GROUP BY 1),
          |c AS (SELECT (SELECT count(*) FROM s0) AS n0,
          |             (SELECT count(*) FROM s1) AS n1,
          |             (SELECT count(*) FROM s2) AS n2)
          |SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name,
          |  CAST(n0 AS BIGINT) AS n_users, round(CAST(1.0 AS DOUBLE), 6) AS conversion FROM c
          |UNION ALL
          |SELECT CAST(1 AS BIGINT), 'click', CAST(n1 AS BIGINT),
          |  round(CASE WHEN n0 = 0 THEN CAST(0 AS DOUBLE)
          |        ELSE CAST(n1 AS DOUBLE) / n0 END, 6) FROM c
          |UNION ALL
          |SELECT CAST(2 AS BIGINT), 'purchase', CAST(n2 AS BIGINT),
          |  round(CASE WHEN n1 = 0 THEN CAST(0 AS DOUBLE)
          |        ELSE CAST(n2 AS DOUBLE) / n1 END, 6) FROM c
          |ORDER BY step""".stripMargin,

      "q73_percent_rank" ->
        """SELECT l_orderkey, l_linenumber, l_quantity,
          |  round(percent_rank() OVER (ORDER BY l_quantity), 6) AS pct_rank
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

      "q70_column_summary" -> {
        def one(c: String) =
          s"""SELECT '$c' AS col_name, n, n_null, n_distinct,
             |  round(CASE WHEN n > 0 THEN ln(CAST(n AS DOUBLE)) - slog / CAST(n AS DOUBLE)
             |        ELSE CAST(0 AS DOUBLE) END, 6) AS entropy
             |FROM (
             |  SELECT CAST(coalesce(sum(CASE WHEN v IS NOT NULL THEN cnt END), 0) AS BIGINT) AS n,
             |         CAST(coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0) AS BIGINT) AS n_null,
             |         CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct,
             |         coalesce(sum(CASE WHEN v IS NOT NULL THEN CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) END), 0.0) AS slog
             |  FROM (SELECT CAST($c AS VARCHAR) AS v, count(*) AS cnt FROM orders GROUP BY 1))"""
            .stripMargin
        Seq("o_orderstatus", "o_orderpriority", "o_custkey").map(one)
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      },

      "q71_shuffle_shards" ->
        """WITH r AS (
          |  SELECT doc_id,
          |    row_number() OVER (ORDER BY md5('epoch0' || CAST(doc_id AS VARCHAR)), doc_id) - 1
          |      AS shuffle_pos
          |  FROM documents WHERE doc_id IS NOT NULL)
          |SELECT doc_id, shuffle_pos, shuffle_pos // 64 AS shard,
          |  shuffle_pos % 64 AS shard_offset
          |FROM r ORDER BY doc_id""".stripMargin,

      // KS: ECDF difference evaluated at complete distinct values only
      // (ties collapse in the GROUP BY); cum/n divisions are exact-int
      // over double — bit-identical across engines
      "q66_ks_drift" ->
        """WITH g AS (
          |  SELECT value AS v,
          |    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
          |    sum(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
          |  FROM events WHERE value IS NOT NULL GROUP BY value),
          |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM g),
          |c AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
          |             sum(cb) OVER (ORDER BY v) AS cum_b FROM g)
          |SELECT t.na AS n_a, t.nb AS n_b,
          |  round(max(abs(CAST(cum_a AS DOUBLE)/t.na - CAST(cum_b AS DOUBLE)/t.nb)), 6) AS ks
          |FROM c, t GROUP BY t.na, t.nb""".stripMargin,

      "q67_psi_drift" -> {
        val bin = (1 to 9).map(i => s"CASE WHEN r.v >= c.q$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH r AS (SELECT value AS v, (event_id % 2 = 0) AS g
           |           FROM events WHERE value IS NOT NULL),
           |c AS (SELECT ${(1 to 9).map(i => s"quantile_cont(v, 0.$i) AS q$i").mkString(", ")}
           |      FROM r WHERE g),
           |b AS (SELECT CAST($bin AS BIGINT) AS bin, r.g FROM r, c),
           |g2 AS (SELECT bin,
           |         CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
           |         CAST(sum(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
           |       FROM b GROUP BY bin),
           |t AS (SELECT CAST(sum(n_base) AS DOUBLE) AS na,
           |             CAST(sum(n_cur) AS DOUBLE) AS nc FROM g2)
           |SELECT bin, n_base, n_cur,
           |  round(((CAST(n_base AS DOUBLE)+0.5)/(t.na+5.0)
           |         - (CAST(n_cur AS DOUBLE)+0.5)/(t.nc+5.0))
           |    * ln(((CAST(n_base AS DOUBLE)+0.5)/(t.na+5.0))
           |         / ((CAST(n_cur AS DOUBLE)+0.5)/(t.nc+5.0))), 6) AS psi_contrib
           |FROM g2, t ORDER BY bin""".stripMargin
      },

      "q68_chi_square" ->
        """WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS o
          |               FROM lineitem GROUP BY 1, 2),
          |rt AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
          |ct AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
          |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
          |        CAST((SELECT count(*) FROM rt) - 1 AS BIGINT)
          |          * CAST((SELECT count(*) FROM ct) - 1 AS BIGINT) AS dof
          |      FROM cells)
          |SELECT t.n AS n, t.dof AS dof,
          |  round(sum((CAST(o AS DOUBLE) - CAST(ra AS DOUBLE)*CAST(cb AS DOUBLE)/CAST(t.n AS DOUBLE))
          |          * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE)*CAST(cb AS DOUBLE)/CAST(t.n AS DOUBLE))
          |          / (CAST(ra AS DOUBLE)*CAST(cb AS DOUBLE)/CAST(t.n AS DOUBLE))), 6) AS chi2
          |FROM cells JOIN rt USING (a) JOIN ct USING (b), t
          |GROUP BY t.n, t.dof""".stripMargin,

      "q69_functional_deps" -> {
        def fd(det: String, dep: String) =
          s"""SELECT '$det' AS det, '$dep' AS dep,
             |  CAST(count(*) AS BIGINT) AS n_det,
             |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
             |  (sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0) AS holds
             |FROM (SELECT $det, count(DISTINCT $dep) AS nd FROM orders
             |      WHERE $det IS NOT NULL AND $dep IS NOT NULL GROUP BY $det)""".stripMargin
        Seq(fd("o_orderkey", "o_custkey"), fd("o_custkey", "o_orderpriority"),
          fd("o_orderpriority", "o_orderstatus"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY det, dep")
      },

      // exact frequent tokens: the oracle replays the NAIVE plan (full
      // token groupBy + HAVING over the same ceil(s*n) threshold) —
      // the two-phase MG result is exact, so the rows agree
      "q62_frequent_tokens" ->
        s"""WITH tk AS (SELECT u.t AS item FROM documents,
           |       UNNEST($toks) AS u(t)),
           |  tot AS (SELECT count(*) AS n FROM tk)
           |SELECT item, count(*) AS cnt FROM tk, tot
           |GROUP BY item, tot.n
           |HAVING count(*) >= CAST(ceil(0.001 * tot.n) AS BIGINT)
           |ORDER BY item""".stripMargin,

      // equi-depth histogram: NTILE-equivalent bucket from the global
      // (value, event_id) rank; integer division matches Spark's long/long
      "q63_equidepth_histogram" ->
        """WITH r AS (
          |  SELECT value,
          |    row_number() OVER (ORDER BY value, event_id) - 1 AS rk,
          |    count(*) OVER () AS n
          |  FROM events WHERE value IS NOT NULL)
          |SELECT (rk * 8) // n AS bucket, count(*) AS cnt,
          |  round(min(value), 6) AS lo, round(max(value), 6) AS hi
          |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,

      "q64_correlation_matrix" -> {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        (for { i <- cols.indices; j <- cols.indices if i < j } yield
          s"""SELECT '${cols(i)}' AS col_x, '${cols(j)}' AS col_y,
             |  round(corr(${cols(i)}, ${cols(j)}), 6) AS r FROM lineitem"""
            .stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_x, col_y")
      },

      "q65_winsorized_profile" ->
        """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
          |                  quantile_cont(l_extendedprice, 0.99) AS hi
          |           FROM lineitem WHERE l_extendedprice IS NOT NULL)
          |SELECT count(*) AS n,
          |  round(avg(greatest(q.lo, least(q.hi, l_extendedprice))), 6) AS mean,
          |  round(stddev_pop(greatest(q.lo, least(q.hi, l_extendedprice))), 6) AS std,
          |  round(min(q.lo), 6) AS lo_cut, round(max(q.hi), 6) AS hi_cut
          |FROM lineitem, q WHERE l_extendedprice IS NOT NULL""".stripMargin,

      "q01_profile_extendedprice" -> numericProfileSql("lineitem", "l_extendedprice"),
      "q02_profile_totalprice" -> numericProfileSql("orders", "o_totalprice"),
      "q03_profile_quantity" -> numericProfileSql("lineitem", "l_quantity"),

      "q04_value_counts_priority" -> valueCountsSql("orders", "o_orderpriority"),
      "q05_value_counts_mktsegment" -> valueCountsSql("customer", "c_mktsegment"),
      "q06_value_counts_returnflag" -> valueCountsSql("lineitem", "l_returnflag"),

      "q07_profile_datetime_orders" ->
        """WITH s AS (
          |  SELECT count(o_orderdate) AS n,
          |         sum(CAST(CAST(epoch(o_orderdate) AS BIGINT) AS DECIMAL(38,6))) AS s1,
          |         sum(CAST(CAST(epoch(o_orderdate) AS BIGINT) * CAST(epoch(o_orderdate) AS BIGINT) AS DECIMAL(38,0))) AS s2,
          |         min(CAST(epoch(o_orderdate) AS BIGINT)) AS mn_epoch,
          |         max(CAST(epoch(o_orderdate) AS BIGINT)) AS mx_epoch,
          |         strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
          |         strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
          |         quantile_cont(CAST(epoch(o_orderdate) AS BIGINT), 0.5) AS med
          |  FROM orders)
          |SELECT n,
          |  round(CAST(s1 AS DOUBLE)/n, 2) AS mean_epoch,
          |  round(sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)), 2) AS std_epoch,
          |  mn_epoch, mx_epoch, min_date, max_date,
          |  round(med, 2) AS median_epoch
          |FROM s""".stripMargin,

      // CAST(sum(..) AS BIGINT): DuckDB sums of integers are HUGEINT,
      // Spark's are BIGINT — values equal, type-sensitive hash differs
      "q08_boolean_profile_events" ->
        """SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS true_count,
          |       CAST(sum(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END) AS BIGINT) AS false_count,
          |       count(*) AS n,
          |       round(CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS true_prob
          |FROM events""".stripMargin,

      "q09_detect_signals_orders" ->
        """SELECT count(*) AS n,
          |  round(avg(CASE WHEN length(regexp_replace(strftime(o_orderdate, '%Y-%m-%d'), '\D', '', 'g')) BETWEEN 7 AND 15 THEN 1.0 ELSE 0.0 END), 6) AS date_phone_ratio,
          |  round(avg(CASE WHEN regexp_matches(CAST(o_orderkey AS VARCHAR), '@[^@]*\.') THEN 1.0 ELSE 0.0 END), 6) AS key_email_ratio,
          |  round(avg(CASE WHEN TRY_CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE) IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS key_numeric_ratio,
          |  count(DISTINCT o_orderpriority) AS priority_distinct,
          |  round(CAST(count(DISTINCT o_orderpriority) AS DOUBLE) / count(*), 6) AS priority_unique_ratio
          |FROM orders""".stripMargin,

      "q10_bool_votes_lineitem" ->
        """SELECT count(*) AS n,
          |  CAST(sum(CASE WHEN lower(trim(l_returnflag)) IN ('y','n') THEN 1 ELSE 0 END) AS BIGINT) AS rf_vote_yn,
          |  CAST(sum(CASE WHEN lower(trim(l_returnflag)) IN ('t','f') THEN 1 ELSE 0 END) AS BIGINT) AS rf_vote_tf,
          |  CAST(sum(CASE WHEN lower(trim(l_returnflag)) IN ('true','false') THEN 1 ELSE 0 END) AS BIGINT) AS rf_vote_truefalse,
          |  CAST(sum(CASE WHEN lower(trim(l_linestatus)) IN ('t','f') THEN 1 ELSE 0 END) AS BIGINT) AS ls_vote_tf,
          |  count(DISTINCT lower(trim(l_returnflag))) AS rf_distinct_norm,
          |  max(CASE WHEN lower(trim(l_returnflag)) IN ('true','false','1','0','yes','no','y','n','t','f') THEN 0 ELSE 1 END) AS rf_nonbool
          |FROM lineitem""".stripMargin,

      "q11_histogram_extendedprice" ->
        """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem)
          |SELECT CAST(least(greatest(floor((l_extendedprice - lo) / (hi - lo) * 50), 0), 49) AS INTEGER) AS bucket,
          |       count(*) AS cnt
          |FROM lineitem, b GROUP BY 1 ORDER BY bucket""".stripMargin,

      "q12_string_ops_customer" ->
        """SELECT c_custkey,
          |  lower(c_name) AS name_lower,
          |  length(c_name) AS name_len,
          |  regexp_replace(c_name, '\D', '', 'g') AS digits,
          |  substr(c_name, 1, 8) AS prefix,
          |  CASE WHEN regexp_matches(c_name, '^Customer#\d+$') THEN 1 ELSE 0 END AS shape_ok
          |FROM customer ORDER BY c_custkey""".stripMargin,

      "q13_json_events" ->
        """SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |  round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
          |        / count(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      "q14_topk_users_by_type" ->
        """SELECT event_type, rank, user_id, round(CAST(total_dec AS DOUBLE), 6) AS total, n_events
          |FROM (
          |  SELECT event_type, user_id,
          |         sum(CAST(value AS DECIMAL(38,6))) AS total_dec,
          |         count(*) AS n_events,
          |         row_number() OVER (PARTITION BY event_type ORDER BY sum(CAST(value AS DECIMAL(38,6))) DESC, user_id ASC) AS rank
          |  FROM events GROUP BY event_type, user_id)
          |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

      "q15_revenue_by_segment" ->
        """SELECT c_mktsegment, count(*) AS n_orders,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

      "q16_q1_lineitem" ->
        """SELECT l_returnflag, l_linestatus,
          |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_qty,
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_base_price,
          |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_disc_price,
          |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
          |  count(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,

      "q17_hourly_events" ->
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
          |  count(*) AS cnt,
          |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

      "q18_sessionize_events" ->
        """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
          |FROM (
          |  SELECT user_id,
          |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM events)
          |GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q19_token_stats" ->
        // coalesce/nullif: Spark's aggregate() over an empty token array
        // yields 0 (and meanTokenLenFromStats guards nt=0 → 0.0); DuckDB list_sum([])
        // is NULL and x/0 diverges — align both, and pin HUGEINT → BIGINT
        s"""SELECT doc_id,
           |  len($toks) AS n_tokens,
           |  CAST(coalesce(list_sum(list_transform($toks, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_subwords,
           |  round(coalesce(CAST(list_sum(list_transform($toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / nullif(len($toks), 0), 0.0), 6) AS mean_token_len
           |FROM documents ORDER BY doc_id""".stripMargin,

      "q20_quality_scores" -> {
        // zero-guarded like the engine's punctRatio when(n === 0, 0.0)
        // branch: an empty-string doc must not diverge on 0/0
        val punct = s"""CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / length(text) END"""
        val swRatio = s"CAST(len(list_filter($toks, x -> list_contains(${dlist(stop("en"))}, x))) AS DOUBLE) / len($toks)"
        val mtl = s"CAST(list_sum(list_transform($toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len($toks)"
        s"""SELECT doc_id,
           |  round($punct, 6) AS punct_ratio,
           |  round($swRatio, 6) AS stopword_ratio,
           |  round(CAST((CASE WHEN len($toks) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3
           |      + (CASE WHEN $mtl >= 2.0 AND $mtl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
           |      + (CASE WHEN $punct <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
           |      + (CASE WHEN $swRatio >= 0.01 THEN 1.0 ELSE 0.0 END) * 0.2 AS DOUBLE), 6) AS quality
           |FROM documents ORDER BY doc_id""".stripMargin
      },

      "q21_langid" -> {
        def sw(lang: String) = s"len(list_filter($toks, x -> list_contains(${dlist(stop(lang))}, x)))"
        s"""SELECT doc_id, lang AS lang_actual,
           |  ${sw("en")} AS sw_en, ${sw("de")} AS sw_de, ${sw("es")} AS sw_es, ${sw("fr")} AS sw_fr,
           |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           |       WHEN ${sw("en")} = 0 AND ${sw("de")} = 0 AND ${sw("es")} = 0 AND ${sw("fr")} = 0 THEN 'und'
           |       WHEN ${sw("en")} >= ${sw("de")} AND ${sw("en")} >= ${sw("es")} AND ${sw("en")} >= ${sw("fr")} THEN 'en'
           |       WHEN ${sw("de")} >= ${sw("es")} AND ${sw("de")} >= ${sw("fr")} THEN 'de'
           |       WHEN ${sw("es")} >= ${sw("fr")} THEN 'es'
           |       ELSE 'fr' END AS lang_pred
           |FROM documents ORDER BY doc_id""".stripMargin
      },

      "q22_fingerprints" ->
        s"""SELECT doc_id,
           |  md5(array_to_string($toks, ' ')) AS fp,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($toks, t -> ${hash31Sql("t")})),
           |              (acc, h) -> (acc * 257 + h) % 2147483647) AS rolling,
           |  ${simhashSql(toks)} AS simhash
           |FROM documents ORDER BY doc_id""".stripMargin,

      "q23_dedup_exact" ->
        s"""SELECT md5(array_to_string($toks, ' ')) AS fp,
           |  min(doc_id) AS keep_id, count(*) AS dup_count
           |FROM ${withDupsSql("documents", "doc_id", 50, 10000)}
           |GROUP BY 1 ORDER BY keep_id""".stripMargin,

      "q24_dedup_minhash" -> {
        val sh = shinglesSql("text")
        val mins = minhashMinsSql
        val bandExprs = minhashBandsSql
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
           |sh0 AS (SELECT doc_id, unnest($sh) AS s FROM dup),
           |sh AS (SELECT doc_id, s, ${hash31Sql("s")} AS v FROM sh0),
           |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
           |banded AS ($bandExprs)
           |SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |FROM banded l JOIN banded r
           |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
           |ORDER BY id_a, id_b""".stripMargin
      },

      "q25_dedup_jaccard" -> {
        val sh = shinglesSql("text")
        val mins = minhashMinsSql
        val bandExprs = minhashBandsSql
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
           |sh0 AS (SELECT doc_id, unnest($sh) AS s FROM dup),
           |sh AS (SELECT doc_id, s, ${hash31Sql("s")} AS v FROM sh0),
           |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
           |banded AS ($bandExprs),
           |cand AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |  FROM banded l JOIN banded r
           |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c
           |  JOIN sh a ON a.doc_id = c.id_a
           |  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
           |  GROUP BY 1, 2)
           |$jaccardReadoffSql""".stripMargin
      },

      "q26_dedup_simhash" ->
        s"""SELECT ${simhashSql(toks)} AS simhash,
           |  min(doc_id) AS keep_id, count(*) AS n_docs
           |FROM ${withDupsSql("documents", "doc_id", 50, 10000)}
           |GROUP BY 1 HAVING count(*) > 1 ORDER BY keep_id""".stripMargin,

      "q27_dedup_embedding" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("embeddings", "vec_id", 50, 10000)})
           |SELECT l.vec_id AS id_a, r.vec_id AS id_b,
           |  round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])), 6) AS sim
           |FROM dup l JOIN dup r ON l.vec_id < r.vec_id
           |WHERE list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])) >= 0.99
           |ORDER BY id_a, id_b""".stripMargin,

      "q28_ann_topk" ->
        """SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
          |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
          |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id >= 5) c)
          |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      "q37_neardup_bucketed" -> q37Sql,
      "q38_kmeans_centroids" -> q38Sql,

      "q39_simhash_hamming" ->
        s"""WITH dup AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000, text || ' nearmarker' FROM documents WHERE doc_id < 50),
           |$simhashCandSql
           |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS dist
           |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
           |ORDER BY id_a, id_b""".stripMargin,

      "q40_line_dedup" ->
        """WITH d AS (
          |  SELECT doc_id,
          |    'follow us on example dot com' || chr(10) || replace(text, ' table ', chr(10))
          |      || chr(10) || 'subscribe to the newsletter' AS text
          |  FROM documents),
          |lines AS (
          |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
          |         unnest(range(len(string_split(text, chr(10))))) AS pos
          |  FROM d),
          |bp AS (SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) >= 10),
          |kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM bp)),
          |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
          |               count(*) AS n_kept
          |        FROM kept GROUP BY doc_id),
          |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
          |SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
          |       t.n_lines - coalesce(a.n_kept, 0) AS n_removed
          |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

      "q41_asof_join" ->
        """WITH j AS (
          |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
          |         row_number() OVER (PARTITION BY e.event_id
          |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          |  FROM events e LEFT JOIN orders o
          |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
          |SELECT event_id, user_id, o_orderkey, o_totalprice
          |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

      "q42_tfidf" -> {
        val idf = "(ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) + 1.0)"
        s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents),
           |pairs AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |dfreq AS (SELECT term, count(*) AS df FROM pairs GROUP BY 1),
           |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
           |scored AS (
           |  SELECT doc_id, term, tf, df, tf * $idf AS tfidf,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY tf * $idf DESC, term ASC) AS rn
           |  FROM pairs JOIN dfreq USING (term) CROSS JOIN n)
           |SELECT doc_id, CAST(rn AS BIGINT) AS "rank", term,
           |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           |  round(tfidf, 6) AS tfidf
           |FROM scored WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin
      },

      "q43_repetition" -> {
        val w = toksSql("text")
        s"""WITH base AS (SELECT doc_id, $w AS w FROM documents),
           |b AS (SELECT doc_id, len(w) AS n_tokens,
           |             len(list_distinct(w)) AS n_distinct FROM base),
           |bg AS (SELECT doc_id,
           |  unnest(list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])) AS bg
           |  FROM base WHERE len(w) >= 2),
           |cnt AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
           |top AS (SELECT doc_id,
           |  max(lpad(CAST(cnt AS VARCHAR), 10, '0') || ' ' || bg) AS packed,
           |  sum(cnt) AS n_bigrams FROM cnt GROUP BY 1)
           |SELECT b.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(n_distinct AS BIGINT) AS n_distinct,
           |  round(CASE WHEN n_tokens > 0
           |    THEN CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           |    ELSE CAST(0 AS DOUBLE) END, 6) AS dup_token_ratio,
           |  coalesce(substr(packed, 12), '') AS top_bigram,
           |  coalesce(CAST(substr(packed, 1, 10) AS BIGINT), 0) AS top_bigram_count,
           |  round(coalesce(CAST(substr(packed, 1, 10) AS DOUBLE) / CAST(n_bigrams AS DOUBLE),
           |    CAST(0 AS DOUBLE)), 6) AS top_bigram_frac
           |FROM b LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin
      },

      "q44_pii_redact" -> {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "[+(][0-9 ()-]{6,}[0-9]"
        s"""WITH d AS (
           |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
           |    THEN text || ' contact alice.smith@example.org or +1 (415) 555-0100'
           |    ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(
           |    regexp_replace(text, '$email', '<EMAIL>', 'g'), '$phone')) AS BIGINT) AS n_phones,
           |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
           |    '$phone', '<PHONE>', 'g') AS text_redacted
           |FROM d ORDER BY doc_id""".stripMargin
      },

      "q45_stratified_sample" -> {
        val bucket = s"(${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 10000"
        s"""SELECT doc_id, lang FROM documents
           |WHERE $bucket < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 8000
           |  WHEN 'zh' THEN 10000 ELSE 5000 END
           |ORDER BY doc_id""".stripMargin
      },

      "q88_split_assignment" -> {
        val bucket = s"(${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 10000"
        s"""SELECT doc_id, lang,
           |  CASE WHEN $bucket < 8000 THEN 'train'
           |       WHEN $bucket < 9000 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM documents WHERE doc_id IS NOT NULL
           |ORDER BY doc_id""".stripMargin
      },

      "q46_sample_per_key" ->
        """SELECT doc_id, lang FROM (
          |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
          |  FROM documents) WHERE rn <= 3 ORDER BY doc_id""".stripMargin,

      "q50_zorder" -> {
        // 30-bit-per-dimension arithmetic replay of InterleaveBits
        // (bit j of a lands at 2j ≤ 58, of b at 2j+1 ≤ 59 — BIGINT-safe
        // on both engines; was 16 bits, which silently truncated the
        // 10x tree's 1e8-shifted user ids — caught by the r13 sf1
        // verify, 900k differing rows; dims here stay < 2^30)
        val z = (0 until 30).map { j =>
          s"(((a >> $j) & 1) * ${1L << (2 * j)} + ((b >> $j) & 1) * ${1L << (2 * j + 1)})"
        }.mkString("(", " + ", ")")
        s"""SELECT event_id, CAST($z AS BIGINT) AS z FROM (
           |  SELECT event_id, user_id AS a, CAST(floor(value) AS BIGINT) AS b
           |  FROM events)
           |ORDER BY event_id""".stripMargin
      },

      "q51_markup_strip" -> {
        val tag = "<[^>]*>"
        val url = "https?://[A-Za-z0-9./_%?&=#+-]+"
        s"""WITH d AS (
           |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
           |    THEN '<html><p class="x">' || text || '</p> see https://example.com/a?b=1 now</html>'
           |    ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$tag')) AS BIGINT) AS n_tags,
           |  CAST(len(regexp_extract_all(text, '$url')) AS BIGINT) AS n_urls,
           |  trim(regexp_replace(
           |    regexp_replace(regexp_replace(text, '$tag', ' ', 'g'), '$url', ' ', 'g'),
           |    '\\s+', ' ', 'g')) AS text_clean
           |FROM d ORDER BY doc_id""".stripMargin
      },

      "q52_curation_pipeline" ->
        s"""WITH injected AS (
           |  SELECT doc_id AS id,
           |    CASE WHEN doc_id % 3 = 0
           |      THEN t2 || ' contact alice.smith@example.org or +1 (415) 555-0100'
           |      ELSE t2 END AS text
           |  FROM (SELECT doc_id, CASE WHEN doc_id % 4 = 0
           |          THEN '<html><p class="x">' || text || '</p> see https://example.com/a?b=1 now</html>'
           |          ELSE text END AS t2
           |        FROM documents)),
           |${curateCleanedSql(Nil)},
           |${curateFeatFiltSql("cleaned", Nil)},
           |dd AS (
           |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY id) AS rn
           |  FROM filt)
           |SELECT id AS doc_id, text_clean, lang, round(quality, 6) AS quality, n_tokens
           |FROM dd
           |WHERE rn = 1 AND (${hash31Sql("CAST(id AS VARCHAR)")}) % 10000 < 5000
           |ORDER BY doc_id""".stripMargin,

      "q53_decontaminate" ->
        s"""WITH tfp AS (
           |  SELECT DISTINCT md5(array_to_string($toks, ' ')) AS fp
           |  FROM documents WHERE doc_id % 10 = 0)
           |SELECT doc_id, n_chars FROM documents
           |WHERE md5(array_to_string($toks, ' ')) NOT IN (SELECT fp FROM tfp)
           |ORDER BY doc_id""".stripMargin,

      "q54_ngram_counts" ->
        s"""WITH base AS (SELECT doc_id, ${toksSql("text")} AS w FROM documents),
           |g AS (SELECT doc_id,
           |  unnest(list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS ngram
           |  FROM base WHERE len(w) >= 3)
           |SELECT ngram, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
           |FROM g GROUP BY ngram HAVING count(*) >= 5
           |ORDER BY ngram""".stripMargin,

      // interval stride is DYNAMIC (r14): greatest(1000, n/100) — the
      // exact engine formula — so this ONE replay is value-valid at
      // every scale (1000 at the bench corpora, 10000 at the 10x tree;
      // the r13 sf1 sweep had to book this row as a designed
      // divergence against the pinned 1000)
      "q61_range_join" ->
        """SELECT p.event_id, i.interval_id,
          |  round(p.value, 6) AS value, round(i.lo, 6) AS lo
          |FROM events p
          |JOIN (SELECT event_id AS interval_id, value AS lo, value + 5.0 AS hi
          |      FROM events
          |      WHERE event_id % (SELECT greatest(1000, count(*) // 100)
          |                        FROM events) = 0) i
          |  ON p.value >= i.lo AND p.value <= i.hi
          |ORDER BY event_id, interval_id""".stripMargin,

      "q60_chunk_documents" ->
        s"""WITH base AS (SELECT doc_id AS id, ${toksSql("text")} AS w FROM documents),
           |ch AS (
           |  SELECT id,
           |    unnest(range(1 + greatest(0, CAST(ceil((len(w) - 12) / 8.0) AS BIGINT)))) AS chunk_idx,
           |    unnest(list_transform(range(1 + greatest(0, CAST(ceil((len(w) - 12) / 8.0) AS BIGINT))),
           |      i -> array_to_string(w[i*8+1 : i*8+12], ' '))) AS chunk
           |  FROM base WHERE len(w) > 0)
           |SELECT id, chunk_idx, chunk,
           |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens
           |FROM ch ORDER BY id, chunk_idx""".stripMargin,

      "q59_weighted_sample" ->
        s"""SELECT doc_id, n_chars, round(wskey, 6) AS skey FROM (
           |  SELECT doc_id, n_chars,
           |    -ln((CAST(${hash31Sql("doc_id::VARCHAR || '#ws42'")} AS DOUBLE) + 0.5)
           |      / 268435456.0) / n_chars AS wskey
           |  FROM documents WHERE n_chars > 0)
           |ORDER BY wskey, doc_id LIMIT 100""".stripMargin,

      "q58_sequence_pack" ->
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CAST(coalesce(len(${toksSql("text")}), 0) AS BIGINT) AS n_tokens
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, n_tokens,
           |    SUM(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM d)
           |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum,
           |  CAST(cum - n_tokens AS BIGINT) AS start_pos,
           |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
           |  CAST((cum - n_tokens) % 512 AS BIGINT) AS bin_offset,
           |  (floor((cum - 1) / 512.0) > floor((cum - n_tokens) / 512.0)
           |    AND n_tokens > 0) AS crosses
           |FROM c ORDER BY doc_id""".stripMargin,

      "q57_ngram_contamination" ->
        s"""WITH ts AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id < 50
           |  UNION ALL
           |  SELECT doc_id + 20000,
           |    translate(lower(text), 'abcdefghijklmnopqrstuvwxyz0123456789',
           |              'bcdefghijklmnopqrstuvwxyza1234567890')
           |  FROM documents WHERE doc_id < 50),
           |trg AS (SELECT DISTINCT md5(g) AS fp FROM (
           |  SELECT unnest(list_transform(range(len(w) - 4),
           |    i -> array_to_string(w[i+1:i+5], ' '))) AS g
           |  FROM (SELECT ${toksSql("text")} AS w FROM documents)
           |  WHERE len(w) >= 5)),
           |teg AS (SELECT DISTINCT doc_id, md5(g) AS fp FROM (
           |  SELECT doc_id, unnest(list_transform(range(len(w) - 4),
           |    i -> array_to_string(w[i+1:i+5], ' '))) AS g
           |  FROM (SELECT doc_id, ${toksSql("text")} AS w FROM ts)
           |  WHERE len(w) >= 5)),
           |hits AS (
           |  SELECT doc_id, count(*) AS n_grams,
           |    CAST(sum(CASE WHEN fp IN (SELECT fp FROM trg) THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
           |  FROM teg GROUP BY doc_id)
           |SELECT t.doc_id AS id,
           |  CAST(coalesce(h.n_grams, 0) AS BIGINT) AS n_grams,
           |  coalesce(h.n_overlap, 0) AS n_overlap,
           |  round(coalesce(CAST(h.n_overlap AS DOUBLE) / h.n_grams, 0.0), 6) AS contamination
           |FROM (SELECT DISTINCT doc_id FROM ts) t LEFT JOIN hits h USING (doc_id)
           |ORDER BY id""".stripMargin,

      "q55_passage_dup" ->
        s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
           |base AS (SELECT doc_id, ${toksSql("text")} AS w FROM dup),
           |ch AS (SELECT doc_id,
           |  unnest(list_transform(range(((len(w) - 1) // 10) + 1),
           |    i -> array_to_string(w[i*10+1 : i*10+10], ' '))) AS passage
           |  FROM base WHERE len(w) > 0),
           |pairs AS (SELECT doc_id, md5(passage) AS fp, count(*) AS c
           |          FROM ch GROUP BY 1, 2),
           |dfreq AS (SELECT fp, count(*) AS n_docs FROM pairs GROUP BY 1),
           |perdoc AS (SELECT doc_id,
           |  CAST(sum(c) AS BIGINT) AS n_passages,
           |  CAST(sum(CASE WHEN n_docs > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_passages
           |  FROM pairs JOIN dfreq USING (fp) GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(coalesce(p.n_passages, 0) AS BIGINT) AS n_passages,
           |  CAST(coalesce(p.n_dup_passages, 0) AS BIGINT) AS n_dup_passages,
           |  round(coalesce(CAST(p.n_dup_passages AS DOUBLE) / p.n_passages, 0.0), 6) AS dup_passage_frac
           |FROM dup d LEFT JOIN perdoc p USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      "q56_unigram_lm" -> {
        val toks = toksSql("text")
        s"""WITH freq AS (
           |  SELECT tok, count(*) AS c
           |  FROM (SELECT unnest($toks) AS tok FROM documents WHERE doc_id % 2 = 0)
           |  GROUP BY tok),
           |model AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM freq),
           |tf AS (SELECT doc_id, tok, count(*) AS tf
           |       FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
           |       GROUP BY 1, 2),
           |sc AS (SELECT t.doc_id,
           |  CAST(sum(t.tf) AS BIGINT) AS n_tokens,
           |  sum(CAST(t.tf AS DOUBLE) * ln((coalesce(f.c, 0) + 1) / CAST(m.n + m.v AS DOUBLE)))
           |    / CAST(sum(t.tf) AS DOUBLE) AS avg_logp
           |  FROM tf t LEFT JOIN freq f USING (tok) CROSS JOIN model m
           |  GROUP BY t.doc_id)
           |SELECT d.doc_id,
           |  CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           |  round(coalesce(sc.avg_logp, 0.0), 6) AS avg_logp
           |FROM documents d LEFT JOIN sc USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },

      "q47_cc_labels" ->
        s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
           |e AS (SELECT doc_id AS src, doc_id + 10000 AS dst FROM ids
           |      UNION ALL
           |      SELECT doc_id + 10000 AS src, doc_id + 20000 AS dst FROM ids),
           |${ccRoundsSql(3)}
           |SELECT id, lbl FROM v3 ORDER BY id""".stripMargin,

      "q48_dedup_corpus" ->
        s"""WITH dup AS (
           |  SELECT doc_id, text, n_chars FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000, text || ' nearmarker', n_chars
           |  FROM documents WHERE doc_id < 50),
           |$simhashCandSql,
           |e AS (SELECT id_a AS src, id_b AS dst FROM cand
           |      WHERE bit_count(xor(h_a, h_b)) <= 3),
           |${ccRoundsSql(3)},
           |todrop AS (SELECT id FROM v3 WHERE lbl <> id)
           |SELECT d.doc_id, d.n_chars FROM dup d
           |WHERE d.doc_id NOT IN (SELECT id FROM todrop)
           |ORDER BY doc_id""".stripMargin,

      // Leakage-free splits: q48's near-dup CC chain, then the q88
      // hash-bucket split keyed on the cluster representative.
      "q129_leakage_free_split" -> {
        val bucket = s"(${hash31Sql("CAST(rep AS VARCHAR)")}) % 10000"
        s"""WITH dup AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000, text || ' nearmarker'
           |  FROM documents WHERE doc_id < 50),
           |$simhashCandSql,
           |e AS (SELECT id_a AS src, id_b AS dst FROM cand
           |      WHERE bit_count(xor(h_a, h_b)) <= 3),
           |${ccRoundsSql(3)},
           |r AS (SELECT d.doc_id, CAST(coalesce(v.lbl, d.doc_id) AS BIGINT) AS rep
           |      FROM dup d LEFT JOIN v3 v ON v.id = d.doc_id)
           |SELECT doc_id, rep,
           |  CASE WHEN $bucket < 8000 THEN 'train'
           |       WHEN $bucket < 9000 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM r ORDER BY doc_id""".stripMargin
      },

      "q49_grouped_profile" ->
        s"""WITH s AS (
           |  SELECT lang, count(n_chars) AS n,
           |         sum(n_chars) AS s1,
           |         sum(n_chars*n_chars) AS s2,
           |         sum(n_chars*n_chars*n_chars) AS s3,
           |         sum(n_chars*n_chars*n_chars*n_chars) AS s4,
           |         min(CAST(n_chars AS DOUBLE)) AS mn,
           |         max(CAST(n_chars AS DOUBLE)) AS mx,
           |         quantile_cont(CAST(n_chars AS DOUBLE), [0.25, 0.5, 0.75]) AS qs
           |  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
           |SELECT lang, ${momentStatsSql(guarded = true)}
           |FROM s ORDER BY lang""".stripMargin,

      "q30_ann_ivf" -> ivfCosineSql(),

      // Append-parity replay: REBUILD-then-search over the union —
      // q30's IVF plan verbatim. The engine side built on the low half
      // and appended the high half; the low half holds the union's 16
      // lowest ids, so the frozen centroids equal the rebuild's and
      // this replay must match value-for-value.
      "q230_ivf_index_append" -> ivfCosineSql(),

      // CDC-parity replay: REBUILD-then-search over the EDITED corpus
      // (mod-7 ≡ 0 high-half ids deleted, mod-7 ≡ 3 upserted with the
      // reversed embedding) — q230's IVF plan over the post-change
      // rows. The engine side went build → append → applyChanges
      // (tombstones) → compact → search; edits stay above the
      // 16-lowest-id seed range, so the frozen centroids equal this
      // rebuild's and delete/upsert-then-search must match
      // value-for-value.
      "q233_ivf_index_cdc" -> ivfCosineSql(
        """corpus0 AS (SELECT * FROM embeddings WHERE vec_id >= 5),
          |cutv AS (SELECT (max(vec_id) + 1) // 2 AS cut FROM corpus0),
          |corpus AS (
          |  SELECT vec_id,
          |    CASE WHEN vec_id >= (SELECT cut FROM cutv) AND vec_id % 7 = 3
          |         THEN list_reverse(embedding) ELSE embedding END AS embedding
          |  FROM corpus0
          |  WHERE NOT (vec_id >= (SELECT cut FROM cutv) AND vec_id % 7 = 0))""".stripMargin),

      // Refined-build replay: the full Lloyd recursion (q38's seeded
      // machinery, K = 16, 2 rounds, corpus = the non-query rows) and
      // then the IVF probe/score/top-k over the REFINED centroids —
      // value-checking the production (kmeansIterations > 0) persisted
      // build end-to-end.
      "q234_ivf_index_refined" -> ivfRefinedSql,

      // Lifecycle replay: the engine went build(low) → append(high) →
      // drift → REBUILD (Lloyd retrain from the index's own live rows)
      // → search; the rebuild trains on the full union, so the oracle
      // is q234's refined-build replay verbatim — the lifecycle's end
      // state must equal a refined build from scratch.
      "q235_ivf_index_rebuild" -> ivfRefinedSql,

      // PQ-index append-parity replay: REBUILD-then-search over the
      // union — q142's IVF-PQ plan at ZERO training iterations (the
      // codebook is the lowest-id seed, which the low-half build shard
      // contains, so the engine's frozen codebook/cells equal the
      // rebuild's and the values must match exactly).
      "q232_ivfpq_index_append" ->
        s"""WITH ${ivfPqAdcSql(0)}
           |SELECT query_id, rank, neighbor_id, round(adist, 6) AS adist
           |FROM ivftop ORDER BY query_id, rank""".stripMargin,

      // Drift-trigger replay: assign the WHOLE corpus to the low-half
      // centroids, split the per-cell counts at the build/append cut,
      // and replay the categorical Laplace-smoothed PSI (+0.5 over the
      // 16 trained cells) with the same double formula.
      "q231_ivf_index_drift" ->
        """WITH corpus AS (SELECT * FROM embeddings WHERE vec_id >= 5),
          |cutv AS (SELECT (max(vec_id) + 1) // 2 AS cut FROM corpus),
          |cent AS (SELECT vec_id AS centroid_id, embedding AS cv FROM corpus
          |         WHERE vec_id < (SELECT cut FROM cutv)
          |         ORDER BY vec_id LIMIT 16),
          |asg AS (SELECT id, centroid_id FROM (
          |    SELECT c.vec_id AS id, ct.centroid_id,
          |      row_number() OVER (PARTITION BY c.vec_id
          |        ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(ct.cv AS DOUBLE[])) DESC, ct.centroid_id ASC) AS rn
          |    FROM corpus c CROSS JOIN cent ct)
          |  WHERE rn = 1),
          |counted AS (SELECT centroid_id,
          |    CAST(sum(CASE WHEN id < (SELECT cut FROM cutv) THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
          |    CAST(sum(CASE WHEN id >= (SELECT cut FROM cutv) THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
          |  FROM asg GROUP BY 1),
          |tot AS (SELECT CAST(sum(n_base) AS DOUBLE) AS na,
          |               CAST(sum(n_cur) AS DOUBLE) AS nc FROM counted),
          |c2 AS (SELECT centroid_id, n_base, n_cur,
          |    ((CAST(n_base AS DOUBLE) + 0.5) / (na + 8.0)
          |      - (CAST(n_cur AS DOUBLE) + 0.5) / (nc + 8.0))
          |    * ln(((CAST(n_base AS DOUBLE) + 0.5) / (na + 8.0))
          |         / ((CAST(n_cur AS DOUBLE) + 0.5) / (nc + 8.0))) AS contrib
          |  FROM counted CROSS JOIN tot)
          |SELECT centroid_id, n_base, n_cur,
          |  round(contrib, 6) AS psi_contrib,
          |  round(sum(contrib) OVER (), 6) AS psi_total,
          |  sum(contrib) OVER () > 0.2 AS retrain
          |FROM c2 ORDER BY centroid_id""".stripMargin,

      "q33_detect_types_events" -> {
        // one-row ladder replay per column; dtype-static branches inlined
        def ladder(c: String, isNum: Boolean, isTs: Boolean): String = {
          val s = s"trim(CAST($c AS VARCHAR))"
          val ns = s"lower($s)"
          val boolToks = "('true','false','1','0','yes','no','y','n','t','f')"
          val dateParse =
            if (isTs) "1.0"
            else s"avg(CASE WHEN $c IS NOT NULL THEN CASE WHEN try_strptime($s, ['%Y-%m-%d','%m/%d/%Y','%d-%m-%Y','%Y-%m-%d %H:%M:%S','%Y-%m-%dT%H:%M:%S','%Y/%m/%d','%d.%m.%Y','%b %d, %Y','%-d %b %Y']) IS NOT NULL THEN 1.0 ELSE 0.0 END END)"
          s"""SELECT '$c' AS col_name, CASE
             |  WHEN count($c) = 0 THEN 'unknown'
             |  WHEN count(DISTINCT $ns) <= 3
             |    AND coalesce(max(CASE WHEN $c IS NOT NULL THEN CASE WHEN $ns IN $boolToks THEN 0 ELSE 1 END END), 1) = 0
             |    THEN 'boolean'
             |  WHEN avg(CASE WHEN $c IS NOT NULL THEN CASE WHEN regexp_matches($s, '@[^@]*\\.[^@]*$$') THEN 1.0 ELSE 0.0 END END) > 0.7 THEN 'email'
             |  WHEN avg(CASE WHEN $c IS NOT NULL THEN CASE WHEN length(regexp_replace($s, '\\D', '', 'g')) BETWEEN 7 AND 15 THEN 1.0 ELSE 0.0 END END) > 0.7 THEN 'phone'
             |  WHEN ${if (isNum) "TRUE" else "FALSE"}
             |    OR avg(CASE WHEN $c IS NOT NULL THEN CASE WHEN TRY_CAST($s AS DOUBLE) IS NOT NULL THEN 1.0 ELSE 0.0 END END) >= 0.9
             |    THEN CASE WHEN CAST(sum(CASE WHEN TRY_CAST($s AS DOUBLE) = floor(TRY_CAST($s AS DOUBLE)) THEN 1 ELSE 0 END) AS DOUBLE)
             |                 / nullif(count(TRY_CAST($s AS DOUBLE)), 0) >= 0.95
             |         THEN 'integer' ELSE 'float' END
             |  WHEN ${if (isTs) "TRUE" else "FALSE"} OR $dateParse >= 0.8 THEN 'datetime'
             |  WHEN CAST(count(DISTINCT $s) AS DOUBLE) / count($c) <= 0.3
             |    AND count(DISTINCT $s) < 50 THEN 'categorical'
             |  ELSE 'text' END AS semantic_type,
             |  count($c) AS n, count(DISTINCT $s) AS n_distinct
             |FROM events""".stripMargin
        }
        Seq(
          ladder("event_id", isNum = true, isTs = false),
          ladder("event_type", isNum = false, isTs = false),
          ladder("props", isNum = false, isTs = false),
          ladder("ts", isNum = false, isTs = true),
          ladder("user_id", isNum = true, isTs = false),
          ladder("value", isNum = true, isTs = false))
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      },

      "q34_text_vector_profile" -> q34Sql,

      // + 0.0 normalizes IEEE negative zero: a stub component rounding
      // to zero from below published -0.0 on one engine and 0.0 on the
      // other (one row in the r13 sf1 verify); identity for every
      // other value, mirrored on the Spark side
      "q36_multimodal_embed" ->
        (0 until 4).map { j =>
          s"SELECT doc_id, $j AS j, round(CAST(${hash31Sql(s"md5(text) || '#$j'")} AS DOUBLE) / 268435456.0 * 2.0 - 1.0, 6) + 0.0 AS v FROM documents"
        }.mkString("", " UNION ALL ", " ORDER BY doc_id, j"),

      "q35_decode_roundtrip" ->
        s"""WITH tk AS (
           |  SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
           |                x -> length(x) BETWEEN 2 AND 15) AS toks
           |  FROM documents WHERE text IS NOT NULL),
           |vocab AS (
           |  SELECT tok FROM (SELECT unnest(toks) AS tok FROM tk)
           |  GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT $Q35VocabCap),
           |vl AS (SELECT list(tok) AS vlist FROM vocab)
           |SELECT doc_id, array_to_string(toks[1:2], ' ') AS decoded
           |FROM tk, vl
           |WHERE list_has_all(vl.vlist, toks[1:2])
           |ORDER BY doc_id""".stripMargin,

      "q31_multimodal_meta" ->
        s"""SELECT doc_id,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN 45 ELSE 17 END AS BIGINT) AS n_bytes,
           |  md5(text) AS digest,
           |  64 + ((${hd(1)} * 16 + ${hd(2)}) * 256 + (${hd(3)} * 16 + ${hd(4)})) % 1985 AS width,
           |  64 + ((${hd(5)} * 16 + ${hd(6)}) * 256 + (${hd(7)} * 16 + ${hd(8)})) % 1985 AS height,
           |  CAST(NULL AS BIGINT) AS duration_ms
           |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin)
  }


  private def q34Sql: String = {
    def comp(tokExpr: String, j: Int): String =
      s"CAST(${hash31Sql(s"$tokExpr || '#$j'")} AS DOUBLE) / 268435456.0 * 2.0 - 1.0"
    val cases = (0 until Q34MaxTokens * Q34Dim).map { i =>
      val ti = i / Q34Dim; val j = i % Q34Dim
      s"SELECT $i AS dim_idx, CASE WHEN len(toks) > $ti THEN ${comp(s"toks[${ti + 1}]", j)} ELSE 0.0 END AS v FROM t"
    }
    s"""WITH t AS (
       |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> length(x) BETWEEN 2 AND 15) AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |vals AS (${cases.mkString(" UNION ALL ")}),
       |agg AS (SELECT dim_idx, count(*) AS n, sum(v) AS s1, sum(v*v) AS s2 FROM vals GROUP BY dim_idx)
       |SELECT dim_idx, round(s1/n, 6) AS mean,
       |  round(sqrt(greatest(s2/n - (s1/n)*(s1/n), 0)), 6) AS std,
       |  round((SELECT sum((s2 - n*(s1/n)*(s1/n))/(n-1)) FROM agg), 6) AS cov_trace
       |FROM agg ORDER BY dim_idx""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Corpus.ilog]]: 256·⌊log2 x⌋ +
    * ⌊x·256/2^⌊log2 x⌋⌋ − 256, all exact-integer (`length(bin(x))` is
    * ⌊log2 x⌋+1 for x ≥ 1; ·256 and the power-of-two division are
    * exact in doubles far past any corpus count). */
  private def ilogSql(x: String): String =
    s"(256 * (length(bin(CAST($x AS BIGINT))) - 1) + " +
      s"CAST(floor(CAST($x AS BIGINT) * 256.0 / " +
      s"power(2.0, length(bin(CAST($x AS BIGINT))) - 1)) AS BIGINT) - 256)"

  /** Staged-CTE replay of [[graft.ops.Corpus.unigramCore]] (q220/q221):
    * word counts → substring seeding → fixed vocab (top-150 ∪ single
    * chars) → `passes` Viterbi passes, each pass's DP unrolled over
    * word positions 1..16 as sequential CTEs (d{r}_{p} = the best
    * (score desc, k asc, path asc) segmentation of the first p chars
    * under pass r's scores), with an M-step recount (c{r}) after each.
    * Pass r scores come from c{r-1} via [[ilogSql]] add-one smoothing —
    * the same exact-integer table the engine uses, so the DP picks
    * identical paths. */
  private def unigramStagesSql(passes: Int): String = {
    val W = 16; val P = 4
    val toks = toksSql("text")
    val head =
      s"""wf AS MATERIALIZED (SELECT u.t AS w, count(*) AS freq
         |    FROM documents, UNNEST($toks) AS u(t)
         |    WHERE length(u.t) <= $W GROUP BY u.t),
         |wsel AS MATERIALIZED (SELECT w, freq FROM wf ORDER BY freq DESC, w LIMIT 1000),
         |sp AS MATERIALIZED (SELECT substr(w, ss.s, ll.l) AS piece, sum(freq) AS cnt
         |    FROM wsel,
         |      LATERAL UNNEST(generate_series(1, length(w))) AS ss(s),
         |      LATERAL UNNEST(generate_series(1, $P)) AS ll(l)
         |    WHERE ss.s + ll.l - 1 <= length(w)
         |    GROUP BY 1),
         |vocab AS MATERIALIZED (SELECT piece FROM
         |      (SELECT piece FROM sp ORDER BY cnt DESC, piece LIMIT 150)
         |    UNION
         |    SELECT DISTINCT substr(w, ss.s, 1)
         |    FROM wsel, LATERAL UNNEST(generate_series(1, length(w))) AS ss(s)),
         |c0 AS MATERIALIZED (SELECT v.piece, coalesce(sp.cnt, 0) AS cnt
         |    FROM vocab v LEFT JOIN sp USING (piece)),
         |nv AS MATERIALIZED (SELECT count(*) AS v FROM vocab)""".stripMargin
    val passSql = (1 to passes).map { r =>
      val score =
        s"""s$r AS MATERIALIZED (SELECT piece, ${ilogSql("cnt + 1")} -
           |    (SELECT ${ilogSql("t")} FROM
           |      (SELECT sum(cnt) + (SELECT v FROM nv) AS t FROM c${r - 1}))
           |    AS s
           |  FROM c${r - 1})""".stripMargin
      val dp0 = s"d${r}_0 AS MATERIALIZED (SELECT w, freq, CAST(0 AS BIGINT) AS st, " +
        "0 AS k, '' AS path FROM wsel)"
      val dps = (1 to W).map { p =>
        val branches = (1 to math.min(P, p)).map { l =>
          s"""SELECT d.w, d.freq, d.st + s.s AS st, d.k + 1 AS k,
             |      d.path || chr(31) || s.piece AS path
             |    FROM d${r}_${p - l} d JOIN s$r s
             |      ON s.piece = substr(d.w, ${p - l + 1}, $l)
             |    WHERE length(d.w) >= $p""".stripMargin
        }.mkString("\n    UNION ALL\n    ")
        s"""d${r}_$p AS MATERIALIZED (SELECT w, freq, st, k, path FROM (
           |  SELECT *, row_number() OVER (PARTITION BY w
           |      ORDER BY st DESC, k ASC, path ASC) AS rn FROM (
           |    $branches)) WHERE rn = 1)""".stripMargin
      }
      val seg = s"seg$r AS MATERIALIZED (" + (1 to W).map(p =>
        s"SELECT w, freq, path FROM d${r}_$p WHERE length(w) = $p")
        .mkString("\n  UNION ALL ") + ")"
      val cnt =
        s"""c$r AS MATERIALIZED (SELECT v.piece, coalesce(x.cnt, 0) AS cnt FROM vocab v
           |  LEFT JOIN (SELECT u.p AS piece, sum(freq) AS cnt
           |    FROM seg$r,
           |      UNNEST(string_split(substr(path, 2), chr(31))) AS u(p)
           |    GROUP BY 1) x USING (piece))""".stripMargin
      (Seq(score, dp0) ++ dps ++ Seq(seg, cnt)).mkString(",\n")
    }.mkString(",\n")
    head + ",\n" + passSql
  }
  /** Unrolled oracle twin of [[graft.ops.Corpus.bpeTrain]]'s merge
    * loop (the [[ccRoundsSql]] convention: both engines run the SAME
    * number of rounds, so parity never depends on convergence): CTE
    * stages `v0`..`v<n>` carry the marker-string vocabulary state,
    * `b1`..`b<n>` each round's winning pair — integer counts, ties by
    * pair string, merge application is the identical `replace`. A
    * round with no pairs left (vocab exhausted before round n) leaves
    * `b<r>` empty: the LEFT JOIN carries the state through unchanged
    * and the round contributes no merge row — exactly the engine
    * loop's early stop, so q155/q156 both stay in parity on corpora
    * that fully merge early. */
  private def bpeStagesSql(n: Int): String = {
    val toks = toksSql("text")
    val init =
      s"""v0 AS (
         |  SELECT w, freq,
         |    '<' || array_to_string(list_transform(range(length(w)),
         |      i -> substr(w, CAST(i + 1 AS INT), 1)), '><') || '>' AS st
         |  FROM (SELECT tok AS w, CAST(count(*) AS BIGINT) AS freq
         |        FROM (SELECT unnest($toks) AS tok FROM documents)
         |        GROUP BY 1))""".stripMargin
    bpeStageChain(init, n)
  }

  /** Byte-level variant of [[bpeStagesSql]]: whitespace words of the
    * e→é-injected documents text, symbols = lowercase hex byte pairs
    * (graft.ops.Corpus.bpeTrainBytesLocal's published form). The merge
    * stages are IDENTICAL — the pair/replace algebra never looks
    * inside a symbol. */
  private def bpeBytesStagesSql(n: Int): String = {
    val words = "list_filter(regexp_split_to_array(" +
      "regexp_replace(text, 'e', chr(233), 'g'), '\\s+'), x -> x <> '')"
    val init =
      s"""v0 AS (
         |  SELECT w, freq,
         |    regexp_replace(lower(hex(w)), '([0-9a-f]{2})', '<\\1>', 'g') AS st
         |  FROM (SELECT tok AS w, CAST(count(*) AS BIGINT) AS freq
         |        FROM (SELECT unnest($words) AS tok
         |              FROM documents WHERE text IS NOT NULL)
         |        GROUP BY 1))""".stripMargin
    bpeStageChain(init, n)
  }

  private def bpeStageChain(init: String, n: Int): String = {
    val stages = (1 to n).map { r =>
      s"""px$r AS (SELECT freq, s, unnest(range(len(s) - 1)) AS i
         |  FROM (SELECT freq, string_split(trim(st, '><'), '><') AS s
         |        FROM v${r - 1})),
         |b$r AS (SELECT pair, cnt FROM (
         |    SELECT '<' || s[CAST(i + 1 AS INT)] || '><' || s[CAST(i + 2 AS INT)] || '>' AS pair,
         |      CAST(sum(freq) AS BIGINT) AS cnt
         |    FROM px$r GROUP BY 1)
         |  ORDER BY cnt DESC, pair ASC LIMIT 1),
         |v$r AS (SELECT w, freq,
         |    CASE WHEN b.pair IS NULL THEN st
         |         ELSE replace(st, b.pair,
         |           '<' || replace(trim(b.pair, '><'), '><', '') || '>')
         |    END AS st
         |  FROM v${r - 1} LEFT JOIN b$r b ON TRUE)""".stripMargin
    }
    (init +: stages).mkString(",\n")
  }

  /** Shared SQL stages of the curation replay (q52 batch, q154
    * streaming): `cleaned` (markup strip + URL drop + PII redaction)
    * over an upstream CTE `injected`(id, text[, carry...]), then
    * [[curateFeatFiltSql]]'s `feat`/`filt` (langid, quality, token
    * count, the q52 config's filters) over any stage that carries
    * (id, text_clean[, carry...]). `feat` also emits `fp`, the
    * cleaned-content fingerprint both engines' dedup stages key on. */
  private def curateCleanedSql(carry: Seq[String]): String = {
    val cy = carry.map(c => s", $c").mkString
    val tag = "<[^>]*>"
    val url = "https?://[A-Za-z0-9./_%?&=#+-]+"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "[+(][0-9 ()-]{6,}[0-9]"
    s"""cleaned AS (
       |  SELECT id$cy,
       |    regexp_replace(regexp_replace(
       |      trim(regexp_replace(
       |        regexp_replace(regexp_replace(text, '$tag', ' ', 'g'), '$url', ' ', 'g'),
       |        '\\s+', ' ', 'g')),
       |      '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS text_clean
       |  FROM injected)""".stripMargin
  }

  private def curateFeatFiltSql(from: String, carry: Seq[String]): String = {
    val cy = carry.map(c => s", $c").mkString
    val ct = toksSql("text_clean")
    def sw(lang: String) =
      s"len(list_filter($ct, x -> list_contains(${dlist(stop(lang))}, x)))"
    val punct = s"""CAST(length(text_clean) - length(regexp_replace(text_clean, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / length(text_clean)"""
    val swRatio = s"CAST(${sw("en")} AS DOUBLE) / len($ct)"
    val mtl = s"CAST(list_sum(list_transform($ct, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len($ct)"
    s"""feat AS (
       |  SELECT id$cy, text_clean,
       |    CASE WHEN regexp_matches(text_clean, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |         WHEN ${sw("en")} = 0 AND ${sw("de")} = 0 AND ${sw("es")} = 0 AND ${sw("fr")} = 0 THEN 'und'
       |         WHEN ${sw("en")} >= ${sw("de")} AND ${sw("en")} >= ${sw("es")} AND ${sw("en")} >= ${sw("fr")} THEN 'en'
       |         WHEN ${sw("de")} >= ${sw("es")} AND ${sw("de")} >= ${sw("fr")} THEN 'de'
       |         WHEN ${sw("es")} >= ${sw("fr")} THEN 'es'
       |         ELSE 'fr' END AS lang,
       |    CAST((CASE WHEN len($ct) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3
       |      + (CASE WHEN $mtl >= 2.0 AND $mtl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
       |      + (CASE WHEN $punct <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
       |      + (CASE WHEN $swRatio >= 0.01 THEN 1.0 ELSE 0.0 END) * 0.2 AS DOUBLE) AS quality,
       |    CAST(len($ct) AS BIGINT) AS n_tokens,
       |    md5(array_to_string($ct, ' ')) AS fp
       |  FROM $from),
       |filt AS (
       |  SELECT * FROM feat
       |  WHERE lang = 'en' AND quality >= 0.5 AND n_tokens >= 5)""".stripMargin
  }

  /** Oracle twin of q161's fastText classifier: gensim tokens in
    * order, FNV-1a-32 unrolled to 15 per-char steps (token length is
    * tokenizer-bounded), word-ngram buckets via sign-extended WRAPPING
    * uint64 arithmetic in HUGEINT mod 2^64, md5-derived exact-dyadic
    * weight matrices regenerated in SQL, per-dim feature sums (exact,
    * order-free), then the same left-associated logit algebra. */
  private def q161Sql: String = {
    val toks = "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), " +
      "x -> length(x) BETWEEN 2 AND 15)"
    val fnvNested = (1 to 15).map { k =>
      s"SELECT tok, CASE WHEN length(tok) >= $k THEN (xor(h, ascii(substr(tok, $k, 1))) * 16777619) % 4294967296 ELSE h END AS h FROM"
    }.foldLeft("(SELECT DISTINCT tok, CAST(2166136261 AS BIGINT) AS h FROM tok_ord)") {
      (inner, sel) => s"($sel $inner)"
    }
    def hu(x: String): String =
      s"(CASE WHEN $x < 2147483648 THEN CAST($x AS HUGEINT) " +
        s"ELSE CAST($x AS HUGEINT) - 4294967296 + 18446744073709551616 END)"
    def wSql(tag: String, rv: String, jv: String): String =
      s"CAST(${hash31Sql(s"'$tag#' || CAST($rv AS VARCHAR) || '#' || CAST($jv AS VARCHAR)")} % 256 AS DOUBLE) / 256.0 - 0.5"
    def pivot8: String = (0 until 2).flatMap(l => (0 until 4).map(j =>
      s"max(CASE WHEN l = $l AND j = $j THEN v END) AS o$l$j")).mkString(", ")
    val nRows = Q161Vocab + Q161Bucket
    s"""WITH tk AS (
       |  SELECT doc_id, $toks AS toks FROM documents WHERE text IS NOT NULL),
       |tok_ord AS (
       |  SELECT doc_id, ord, toks[ord] AS tok FROM (
       |    SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS ord FROM tk)),
       |fnv AS (SELECT tok, h FROM $fnvNested),
       |vocab AS (SELECT tok, rid FROM (
       |    SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) - 1 AS rid
       |    FROM (SELECT tok, count(*) AS cnt FROM tok_ord GROUP BY tok))
       |  WHERE rid < $Q161Vocab),
       |mat AS (SELECT r, j, ${wSql("q161w", "r", "j")} AS v
       |  FROM range($nRows) t1(r), range(4) t2(j)),
       |ow AS (SELECT $pivot8 FROM (
       |  SELECT l, j, ${wSql("q161o", "l", "j")} AS v
       |  FROM range(2) t1(l), range(4) t2(j))),
       |feats AS (
       |  SELECT t.doc_id, v.rid AS fid FROM tok_ord t JOIN vocab v USING (tok)
       |  UNION ALL
       |  SELECT a.doc_id, $Q161Vocab + CAST(
       |      ((${hu("fa.h")} * 116049371 + ${hu("fb.h")}) % 18446744073709551616)
       |      % $Q161Bucket AS INTEGER) AS fid
       |  FROM tok_ord a
       |  JOIN tok_ord b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
       |  JOIN fnv fa ON fa.tok = a.tok
       |  JOIN fnv fb ON fb.tok = b.tok),
       |hs AS (SELECT f.doc_id, m.j, sum(m.v) AS s
       |  FROM feats f JOIN mat m ON m.r = f.fid GROUP BY 1, 2),
       |hn AS (SELECT doc_id, count(*) AS n FROM feats GROUP BY 1),
       |hw AS (SELECT doc_id,
       |    max(CASE WHEN j = 0 THEN s END) AS s0,
       |    max(CASE WHEN j = 1 THEN s END) AS s1,
       |    max(CASE WHEN j = 2 THEN s END) AS s2,
       |    max(CASE WHEN j = 3 THEN s END) AS s3
       |  FROM hs GROUP BY 1),
       |lg AS (SELECT hw.doc_id,
       |    o00 * (s0 / n) + o01 * (s1 / n) + o02 * (s2 / n) + o03 * (s3 / n) AS l0,
       |    o10 * (s0 / n) + o11 * (s1 / n) + o12 * (s2 / n) + o13 * (s3 / n) AS l1
       |  FROM hw JOIN hn USING (doc_id), ow)
       |SELECT d.doc_id,
       |  CASE WHEN lg.doc_id IS NULL THEN NULL
       |       WHEN l1 > l0 THEN '__label__drop' ELSE '__label__keep' END AS label,
       |  CASE WHEN lg.doc_id IS NULL THEN NULL
       |       ELSE round(CASE WHEN l1 > l0 THEN l1 ELSE l0 END, 6) END AS score
       |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |LEFT JOIN lg ON lg.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Oracle twin of q160's SVG plot sink: the same integer pixel
    * geometry (heights via BIGINT floor-division `//`, positions on
    * the fixed grid) and the same ordered string assembly, so the
    * rendered documents are byte-identical. */
  private def q160Sql: String = {
    val histHeader = """<svg xmlns="http://www.w3.org/2000/svg" width="1000" height="600">""" +
      "<title>l_extendedprice histogram</title>"
    val barHeader = """<svg xmlns="http://www.w3.org/2000/svg" width="1000" height="600">""" +
      "<title>o_orderstatus counts</title>"
    s"""WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
       |hist AS (
       |  SELECT CAST(least(greatest(floor((l_extendedprice - lo) / (hi - lo) * 50), 0), 49) AS INTEGER) AS bucket,
       |         count(*) AS cnt
       |  FROM lineitem, b GROUP BY 1),
       |hm AS (SELECT max(cnt) AS mx FROM hist),
       |hr AS (SELECT bucket,
       |    printf('<rect x="%d" y="%d" width="18" height="%d"/>',
       |      bucket * 20, 550 - (cnt * 500) // mx, (cnt * 500) // mx) AS frag
       |  FROM hist, hm),
       |vc AS (SELECT CAST(o_orderstatus AS VARCHAR) AS value, count(*) AS cnt
       |  FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY 1),
       |vi AS (SELECT value, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, value ASC) - 1 AS idx
       |  FROM vc ORDER BY cnt DESC, value ASC LIMIT 10),
       |vk AS (SELECT count(*) AS k, max(cnt) AS mx FROM vi),
       |vr AS (SELECT idx,
       |    printf('<rect x="%d" y="%d" width="%d" height="%d"/>',
       |      idx * (1000 // k), 550 - (cnt * 500) // mx,
       |      greatest(1000 // k - 10, 1), (cnt * 500) // mx)
       |    || printf('<text x="%d" y="580">%s</text>', idx * (1000 // k),
       |      replace(replace(replace(value, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')) AS frag
       |  FROM vi, vk)
       |SELECT 'histogram_extendedprice' AS plot,
       |  '$histHeader' || string_agg(frag, '' ORDER BY bucket) || '</svg>' AS svg
       |FROM hr
       |UNION ALL
       |SELECT 'bar_orderstatus' AS plot,
       |  '$barHeader' || string_agg(frag, '' ORDER BY idx) || '</svg>' AS svg
       |FROM vr
       |ORDER BY plot""".stripMargin
  }

  /** Oracle twin of q159's deterministic synthetic pipeline: the SAME
    * exact-decimal profile moments (epoch CENTERED on min), the SAME
    * quantization (round 6 for the small-scale numerics, round 2 for
    * epochs — the q01/q07-proven cross-engine precisions), and the
    * SAME md5 Irwin–Hall draws, composed per generator family. Every
    * arithmetic step is written in the same association order as the
    * Spark expressions so doubles stay bit-identical. */
  private def q159Sql: String = {
    def uSql(tag: String, j: Int): String =
      s"((CAST(${hash31Sql(s"'$tag#' || CAST(gen_id AS VARCHAR) || '#0#$j'")} AS DOUBLE) + 0.5) / 268435456.0)"
    def zSql(tag: String): String =
      (0 until 12).map(j => uSql(tag, j)).mkString("(", " + ", " - 6.0)")
    s"""WITH st AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CAST(o_custkey AS DECIMAL(38,6))) AS DOUBLE) AS s_ck,
       |    CAST(sum(CAST(o_custkey * o_custkey AS DECIMAL(38,6))) AS DOUBLE) AS ss_ck,
       |    CAST(min(o_custkey) AS DOUBLE) AS mn_ck,
       |    CAST(max(o_custkey) AS DOUBLE) AS mx_ck,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s_tp,
       |    CAST(sum(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS ss_tp,
       |    min(o_totalprice) AS mn_tp, max(o_totalprice) AS mx_tp,
       |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) AS bt
       |  FROM orders),
       |emn AS (SELECT min(CAST(epoch(o_orderdate) AS BIGINT)) AS mn_e FROM orders),
       |est AS (SELECT
       |    CAST(sum(CAST(CAST(epoch(o_orderdate) AS BIGINT) - mn_e AS DECIMAL(38,6))) AS DOUBLE) AS s_e,
       |    CAST(sum(CAST((CAST(epoch(o_orderdate) AS BIGINT) - mn_e) * (CAST(epoch(o_orderdate) AS BIGINT) - mn_e) AS DECIMAL(38,0))) AS DOUBLE) AS ss_e,
       |    CAST(max(CAST(epoch(o_orderdate) AS BIGINT)) AS DOUBLE) AS mx_e
       |  FROM orders, emn),
       |p AS (SELECT
       |    round(s_ck / n, 6) AS mean_ck,
       |    round(sqrt(ss_ck / n - (s_ck / n) * (s_ck / n)), 6) AS std_ck,
       |    mn_ck, mx_ck,
       |    round(s_tp / n, 6) AS mean_tp,
       |    round(sqrt(ss_tp / n - (s_tp / n) * (s_tp / n)), 6) AS std_tp,
       |    mn_tp, mx_tp,
       |    CAST(mn_e AS DOUBLE) + round(s_e / n, 2) AS mean_e,
       |    -- datetimeDay's sigma=0 fallback (Latanova_v1.py:411): a
       |    -- degenerate date column generates with a 30-day spread
       |    CASE WHEN round(sqrt(ss_e / n - (s_e / n) * (s_e / n)), 2) > 0
       |         THEN round(sqrt(ss_e / n - (s_e / n) * (s_e / n)), 2)
       |         ELSE 86400.0 * 30 END AS std_e,
       |    CAST(mn_e AS DOUBLE) AS mnd_e, mx_e,
       |    bt / n AS p_bool
       |  FROM st, emn, est),
       |cat AS (SELECT CAST(o_orderstatus AS VARCHAR) AS val, count(*) AS cnt
       |  FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY 1),
       |cum AS (SELECT val,
       |    CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM cat) AS pr,
       |    row_number() OVER (ORDER BY cnt DESC, val ASC) AS rn FROM cat),
       |cum2 AS (SELECT val, rn,
       |    sum(pr) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS cp FROM cum),
       |r AS (SELECT CAST(i AS BIGINT) AS gen_id FROM range($Q159N) t(i)),
       |g AS (SELECT gen_id,
       |    ${zSql("q159ck")} AS z_ck, ${zSql("q159tp")} AS z_tp,
       |    ${zSql("q159d")} AS z_d,
       |    ${uSql("q159b", 0)} AS u_b, ${uSql("q159c", 0)} AS u_c
       |  FROM r)
       |SELECT gen_id,
       |  CAST(floor(least(greatest(z_ck * std_ck + mean_ck, mn_ck), mx_ck) + 0.5) AS BIGINT) AS num_int,
       |  floor(least(greatest(z_tp * std_tp + mean_tp, mn_tp), mx_tp) * 100.0 + 0.5) / 100.0 AS num_float,
       |  CASE WHEN u_b < p_bool THEN 'True' ELSE 'False' END AS bool_val,
       |  coalesce(
       |    (SELECT val FROM cum2 WHERE g.u_c < cum2.cp ORDER BY rn LIMIT 1),
       |    (SELECT val FROM cum2 ORDER BY rn DESC LIMIT 1)) AS cat_val,
       |  strftime(DATE '1970-01-01' + CAST(floor(least(greatest(z_d * std_e + mean_e, mnd_e), mx_e) / 86400.0) AS INTEGER), '%Y-%m-%d') AS dt_val
       |FROM g, p ORDER BY gen_id""".stripMargin
  }

  /** Oracle twin of the q150 deterministic-mode MVN text generator:
    * z from md5 Irwin–Hall(12) pseudo-normals (12 exact 28-bit
    * uniforms summed, minus 6 — transcendental-free, so every
    * intermediate is bit-identical cross-engine), y = mean + L·z with
    * the same left-associated literal arithmetic as the Spark fold,
    * decode = per-slot argmax cosine over q35's frequency-capped
    * vocab. */
  private def q150Sql: String = {
    val width = 2 * Q34Dim
    def dl(x: Double): String = x.toString
    def uSql(k: Int, j: Int): String =
      s"((CAST(${hash31Sql(s"'q150z#' || CAST(gen_id AS VARCHAR) || '#$k#$j'")} AS DOUBLE) + 0.5) / 268435456.0)"
    def zSql(k: Int): String =
      (0 until 12).map(j => uSql(k, j)).mkString("(", " + ", " - 6.0)")
    val ys = (0 until width).map { j =>
      val e = (0 to j).foldLeft(dl(q150Mean(j))) { (acc, k) =>
        s"$acc + ${dl(q150L(j, k))} * ${zSql(k)}" }
      s"($e) AS y$j"
    }
    val comps = (0 until Q34Dim).map(j =>
      s"CAST(${hash31Sql(s"tok || '#$j'")} AS DOUBLE) / 268435456.0 * 2.0 - 1.0")
    s"""WITH tk AS (
       |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
       |                     x -> length(x) BETWEEN 2 AND 15) AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |vocab AS (
       |  SELECT tok FROM (SELECT unnest(toks) AS tok FROM tk)
       |  GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT $Q35VocabCap),
       |vn AS (SELECT tok, v, sqrt(list_dot_product(v, v)) AS nn FROM (
       |  SELECT tok, ${comps.mkString("[", ", ", "]")} AS v FROM vocab)),
       |r AS (SELECT CAST(i AS BIGINT) AS gen_id FROM range(${Q150N}) t(i)),
       |y AS (SELECT gen_id, ${ys.mkString(", ")} FROM r),
       |slots AS (
       |  SELECT gen_id, 0 AS s, [y0, y1, y2, y3] AS q FROM y
       |  UNION ALL
       |  SELECT gen_id, 1 AS s, [y4, y5, y6, y7] AS q FROM y),
       |sq AS (SELECT gen_id, s, q, sqrt(list_dot_product(q, q)) AS qn FROM slots),
       |sc AS (SELECT gen_id, s, tok,
       |    CASE WHEN nn = 0 OR qn = 0 THEN -1.0
       |         ELSE list_dot_product(q, v) / (nn * qn) END AS sim
       |  FROM sq CROSS JOIN vn),
       |best AS (SELECT gen_id, s, tok FROM (
       |    SELECT gen_id, s, tok, row_number() OVER (PARTITION BY gen_id, s
       |      ORDER BY sim DESC, tok ASC) AS rn FROM sc)
       |  WHERE rn = 1)
       |SELECT gen_id, string_agg(tok, ' ' ORDER BY s) AS decoded
       |FROM best GROUP BY gen_id ORDER BY gen_id""".stripMargin
  }

  /** Oracle twin of [[graft.ops.Similarity.cosineNearDupBucketed]]: the
    * deterministic FNV-seeded hyperplanes are evaluated here and inlined
    * as literal DOUBLE[] constants (same trick as [[minhashMinsSql]]),
    * so DuckDB replays bucket assignment + exact verification. */
  private def q37Sql: String = {
    def bucket(t: Int): String = {
      val bits = (0 until Q37Bits).map { b =>
        val plane = (0 until Q37Dim)
          .map(j => graft.text.HashEmbeddings.component(s"$b#$j", 0, Q37Seed + t))
          .mkString("[", ", ", "]")
        s"CASE WHEN list_dot_product(v, $plane) >= 0 THEN '1' ELSE '0' END"
      }
      bits.mkString("concat(", ", ", ")")
    }
    val tables = (0 until Q37Tables)
      .map(t => s"SELECT id, $t AS tbl, ${bucket(t)} AS bucket FROM v")
      .mkString(" UNION ALL ")
    s"""WITH dup AS (SELECT * FROM ${withDupsSql("embeddings", "vec_id", 50, 10000)}),
       |v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM dup WHERE embedding IS NOT NULL),
       |tab AS ($tables),
       |cand AS (
       |  SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM tab l JOIN tab r
       |    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id < r.id)
       |SELECT id_a, id_b,
       |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
       |FROM cand JOIN v a ON a.id = id_a JOIN v b ON b.id = id_b
       |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val PqM = 4
  private val PqK = 8
  private val PqIters = 2
  private val PqSubDim = Q37Dim / PqM // 16


  /** Shared CTE chain replaying [[graft.ops.Quantize.pqTrain]] +
    * [[graft.ops.Quantize.pqEncode]]: slice into PqM subspaces, seed
    * each with the PqK lowest-id subvectors, PqIters Lloyd rounds with
    * ALL subspaces in one round-CTE (mirror of the engine's grouped
    * training), then the final code assignment. `corpusFilter`
    * selects the training corpus (q131 trains on vec_id >= 5 only). */
  private def pqSql(corpusFilter: String, iters: Int = PqIters): String = {
    def round(i: Int): String =
      s"""pasg$i AS (
         |  SELECT id, subspace, centroid_id, sv FROM (
         |    SELECT b.id, b.subspace, ct.centroid_id, b.sv,
         |      row_number() OVER (PARTITION BY b.id, b.subspace
         |        ORDER BY list_distance(b.sv, ct.cv) ASC, ct.centroid_id ASC) AS rn
         |    FROM psub b JOIN pcent${i - 1} ct USING (subspace))
         |  WHERE rn = 1),
         |pm$i AS (
         |  SELECT subspace, centroid_id, i AS pos, avg(sv[i + 1]) AS m
         |  FROM pasg$i CROSS JOIN range($PqSubDim) t(i)
         |  GROUP BY 1, 2, 3),
         |pcent$i AS (
         |  SELECT ct.subspace, ct.centroid_id, coalesce(nm.ncv, ct.cv) AS cv
         |  FROM pcent${i - 1} ct LEFT JOIN
         |    (SELECT subspace, centroid_id, list(m ORDER BY pos) AS ncv
         |     FROM pm$i GROUP BY 1, 2) nm
         |    USING (subspace, centroid_id))""".stripMargin
    s"""pcorpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings $corpusFilter),
       |psub AS (SELECT id, s AS subspace,
       |    v[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS sv
       |  FROM pcorpus CROSS JOIN range($PqM) t(s)),
       |pcent0 AS (SELECT subspace, id AS centroid_id, sv AS cv FROM psub
       |  WHERE id IN (SELECT id FROM pcorpus ORDER BY id LIMIT $PqK)),
       |${if (iters > 0) (1 to iters).map(round).mkString(",\n") + ",\n" else ""}pcodes AS (
       |  SELECT id, subspace, centroid_id AS code FROM (
       |    SELECT b.id, b.subspace, ct.centroid_id,
       |      row_number() OVER (PARTITION BY b.id, b.subspace
       |        ORDER BY list_distance(b.sv, ct.cv) ASC, ct.centroid_id ASC) AS rn
       |    FROM psub b JOIN pcent$iters ct USING (subspace))
       |  WHERE rn = 1)""".stripMargin
  }

  /** The full PQ-ADC replay chain (training via [[pqSql]] on the
    * vec_id >= 5 corpus, queries = vec_id < 5, top-10 by ascending
    * ADC distance) ending in CTE `pqtop` (query_id, rank, neighbor_id,
    * adist); also exposes `pqq` (query vectors) and `pcorpus` for
    * downstream audits (q137). */
  private def pqAdcPrefixSql(iters: Int = PqIters): String =
    s"""${pqSql("WHERE vec_id >= 5", iters)},
       |pqq AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 5),
       |pqsub AS (SELECT id, s AS subspace,
       |    v[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS sv
       |  FROM pqq CROSS JOIN range($PqM) t(s)),
       |pdtab AS (SELECT q.id AS query_id, q.subspace,
       |    ct.centroid_id AS code, list_distance(q.sv, ct.cv) ** 2 AS d2
       |  FROM pqsub q JOIN pcent$iters ct USING (subspace))""".stripMargin

  private def pqAdcSql: String =
    s"""${pqAdcPrefixSql()},
       |pscore AS (SELECT d.query_id, c.id AS neighbor_id,
       |    sum(d.d2) AS adist
       |  FROM pcodes c JOIN pdtab d
       |    ON c.subspace = d.subspace AND c.code = d.code
       |  GROUP BY 1, 2),
       |pqtop AS (SELECT query_id, rank, neighbor_id, adist
       |  FROM (SELECT query_id, neighbor_id, adist,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adist ASC, neighbor_id ASC) AS rank FROM pscore)
       |  WHERE rank <= 10)""".stripMargin

  /** IVF-PQ replay: [[pqAdcPrefixSql]]'s training/table CTEs plus the
    * coarse inverted-file index (cells = the lowest-id corpus vectors,
    * L2 cell assignment with ties → lowest cell, $IvfProbe probed
    * cells per query) restricting the ADC scoring join — ends in CTE
    * `ivftop` (query_id, rank, neighbor_id, adist). The cell COUNT is
    * the engine's exact sizing formula, evaluated dynamically:
    * $IvfCells under the 2048-row gate, corpus-sized (~125/cell,
    * floor $IvfCells, sqrt-scaled past the 4096 soft cap) above — so
    * this one replay is
    * value-valid at every scale (r14; the r13 sf1 sweep had to book
    * q142 as a designed divergence against the pinned LIMIT). */
  private def ivfPqAdcSql(iters: Int = PqIters): String =
    s"""${pqAdcPrefixSql(iters)},
       |icells AS (SELECT id AS cell_id, v AS ccv
       |  FROM pcorpus ORDER BY id
       |  LIMIT (SELECT CASE WHEN count(*) <= 2048 THEN $IvfCells
       |                     WHEN (count(*) + 124) // 125 <= 4096
       |                     THEN greatest($IvfCells, (count(*) + 124) // 125)
       |                     ELSE CAST(ceil(sqrt(
       |                       ((count(*) + 124) // 125) * 4096.0)) AS BIGINT) END
       |         FROM pcorpus)),
       |icasg AS (SELECT id, cell_id AS cell FROM (
       |    SELECT c.id, ce.cell_id,
       |      row_number() OVER (PARTITION BY c.id
       |        ORDER BY list_distance(c.v, ce.ccv) ASC, ce.cell_id ASC) AS rn
       |    FROM pcorpus c CROSS JOIN icells ce) WHERE rn = 1),
       |iprobe AS (SELECT query_id, cell_id FROM (
       |    SELECT q.id AS query_id, ce.cell_id,
       |      row_number() OVER (PARTITION BY q.id
       |        ORDER BY list_distance(q.v, ce.ccv) ASC, ce.cell_id ASC) AS rn
       |    FROM pqq q CROSS JOIN icells ce) WHERE rn <= $IvfProbe),
       |iscore AS (SELECT d.query_id, c.id AS neighbor_id, sum(d.d2) AS adist
       |  FROM pcodes c JOIN icasg a USING (id)
       |  JOIN iprobe pr ON a.cell = pr.cell_id
       |  JOIN pdtab d ON d.query_id = pr.query_id
       |    AND d.subspace = c.subspace AND d.code = c.code
       |  GROUP BY 1, 2),
       |ivftop AS (SELECT query_id, rank, neighbor_id, adist
       |  FROM (SELECT query_id, neighbor_id, adist,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adist ASC, neighbor_id ASC) AS rank FROM iscore)
       |  WHERE rank <= 10)""".stripMargin

  /** BM25 replay CTE chain over `documents` for a fixed term set
    * (shared by q115 and q202): `base`/`lens`/`stats`/`tf`/`dfq`,
    * ending at `contrib(doc_id, term, c)`. */
  private def bm25CtesSql(terms: Seq[String],
                          k1: Double = 1.2, b: Double = 0.75): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""base AS (SELECT doc_id, ${toksSql("text")} AS w FROM documents),
       |lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    avg(CAST(dl AS DOUBLE)) AS avgdl FROM lens),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(w) AS term FROM base)
       |  WHERE term IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |contrib AS (SELECT doc_id, term,
       |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
       |      (tf * ${k1 + 1.0}) /
       |      (tf + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) / avgdl)) AS c
       |  FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id)
       |  CROSS JOIN stats)""".stripMargin
  }

  /** Fixed term order, left-associated additions — same evaluation
    * order as the Spark expression, so doubles agree bit-for-bit. */
  private def bm25TotalSql(terms: Seq[String]): String =
    terms.map(t =>
      s"coalesce(max(CASE WHEN term = '$t' THEN c END), 0.0)").mkString(" + ")

  /** Calibration replay shared by q204 (batch) and q206 (streaming
    * twin — same merged sums, same readoff): q21's langid chain,
    * Laplace-smoothed winning share, equal-width bins, DECIMAL
    * confidence sums, wgap = |Σcorrect − Σconf| / N per bin. */
  private def q204Sql: String = {
    def sw(lang: String) =
      s"len(list_filter(${toksSql("text")}, x -> list_contains(${dlist(stop(lang))}, x)))"
    s"""WITH sw AS (SELECT doc_id, lang AS lang_actual, text,
       |    ${sw("en")} AS se, ${sw("de")} AS sd,
       |    ${sw("es")} AS ss, ${sw("fr")} AS sf FROM documents),
       |pred AS (SELECT *,
       |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |         WHEN se = 0 AND sd = 0 AND ss = 0 AND sf = 0 THEN 'und'
       |         WHEN se >= sd AND se >= ss AND se >= sf THEN 'en'
       |         WHEN sd >= ss AND sd >= sf THEN 'de'
       |         WHEN ss >= sf THEN 'es'
       |         ELSE 'fr' END AS lang_pred
       |  FROM sw),
       |sel AS (SELECT
       |    CAST(greatest(se, sd, ss, sf) + 1 AS DOUBLE) /
       |      CAST(se + sd + ss + sf + 4 AS DOUBLE) AS p,
       |    CASE WHEN lang_pred = lang_actual THEN 1 ELSE 0 END AS c
       |  FROM pred WHERE lang_pred IN ('en', 'de', 'es', 'fr')),
       |b AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, p, c
       |  FROM sel WHERE p IS NOT NULL AND p >= 0 AND p <= 1),
       |tot AS (SELECT count(*) AS nt FROM b)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
       |    AS avg_conf,
       |  round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS acc,
       |  round(CAST(abs(CAST(sum(c) AS DECIMAL(38,12))
       |      - sum(CAST(p AS DECIMAL(38,12)))) AS DOUBLE) / nt, 6) AS wgap
       |FROM b CROSS JOIN tot GROUP BY bin, nt ORDER BY bin""".stripMargin
  }

  /** The kmeans replay CTE chain shared by q38 (centroid dump), q201
    * (silhouette), and q234 (refined persisted IVF index): `corpus`,
    * `cent0`, Lloyd rounds, ending with `cent$iters` available for
    * the caller's SELECT. `where` filters the corpus (and the seed)
    * — empty replays the full table (q38/q201's historical shape). */
  private def kmeansCtesSql(k: Int = Q38K, iters: Int = Q38Iters,
                            where: String = ""): String = {
    def round(i: Int): String =
      s"""asg$i AS (
         |  SELECT id, centroid_id, v FROM (
         |    SELECT c.id, ct.centroid_id, c.v,
         |      row_number() OVER (PARTITION BY c.id
         |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.centroid_id ASC) AS rn
         |    FROM corpus c CROSS JOIN cent${i - 1} ct)
         |  WHERE rn = 1),
         |m$i AS (
         |  SELECT centroid_id, i AS pos, avg(v[i + 1]) AS m
         |  FROM asg$i CROSS JOIN range($Q37Dim) t(i)
         |  GROUP BY 1, 2),
         |cent$i AS (
         |  SELECT ct.centroid_id, coalesce(nm.ncv, ct.cv) AS cv
         |  FROM cent${i - 1} ct LEFT JOIN
         |    (SELECT centroid_id, list(m ORDER BY pos) AS ncv FROM m$i GROUP BY 1) nm
         |    USING (centroid_id))""".stripMargin
    s"""corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings $where),
       |cent0 AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
       |          FROM embeddings $where ORDER BY vec_id LIMIT $k),
       |${(1 to iters).map(round).mkString(",\n")}""".stripMargin
  }


  /** Oracle twin of [[graft.ops.Similarity.kmeansCentroids]]: seed
    * centroids = k lowest ids, then `Q38Iters` Lloyd rounds — each an
    * argmax-cosine assignment plus per-(cluster, dim) mean; clusters
    * that lose every member keep the previous centroid (left join +
    * coalesce on both engines). */
  private def q38Sql: String =
    s"""WITH ${kmeansCtesSql()}
       |SELECT centroid_id, i AS pos, round(cv[i + 1], 6) AS v
       |FROM cent$Q38Iters CROSS JOIN range($Q37Dim) t(i)
       |ORDER BY centroid_id, pos""".stripMargin

  /** 64-bit SimHash LSH candidates shared by q39, q48 and q129: over
    * an upstream CTE `dup(doc_id, text)`, four 16-bit bands of the
    * SimHash; ends in `cand(id_a, h_a, id_b, h_b)`, the pairs that
    * share a band key. */
  private def simhashCandSql: String =
    s"""sk AS (SELECT doc_id AS id, CAST(${simhashIntSql(toksSql("text"), 64)} AS BIGINT) AS h FROM dup),
       |banded AS (
       |  SELECT id, h, b AS band, (h >> (b * 16)) & 65535 AS key
       |  FROM sk CROSS JOIN range(4) t(b)),
       |cand AS (
       |  SELECT DISTINCT l.id AS id_a, l.h AS h_a, r.id AS id_b, r.h AS h_b
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND l.key = r.key AND l.id < r.id)""".stripMargin

  /** rows0(u, v): the three simulated raters of the Krippendorff
    * rows (q222, q228, q229), as SparkEntry.threeRaters builds them;
    * a rating is CAST(<label> <scale> AS <ty>). */
  private def ratersSql(scale: String, ty: String, shift2: Int): String =
    s"""rows0 AS (
       |  SELECT vec_id AS u, CAST(label $scale AS $ty) AS v
       |    FROM embeddings WHERE label IS NOT NULL AND vec_id IS NOT NULL
       |  UNION ALL
       |  SELECT vec_id,
       |    CAST((label + CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END) $scale
       |      AS $ty)
       |    FROM embeddings WHERE label IS NOT NULL AND vec_id IS NOT NULL
       |      AND vec_id % 4 <> 0
       |  UNION ALL
       |  SELECT vec_id,
       |    CAST((label + CASE WHEN vec_id % 11 = 0 THEN $shift2 ELSE 0 END) $scale
       |      AS $ty)
       |    FROM embeddings WHERE label IS NOT NULL AND vec_id IS NOT NULL
       |      AND vec_id % 3 <> 1)""".stripMargin

  /** q199's 1-bit sign packing as the CTEs of the Hamming ANN replays
    * (q200, q207): `v(vec_id, vv)` the double vectors and
    * `b(vec_id, vv, words)` their 32-dim BIGINT sign words. */
  private val packedWordsSql: String =
    """v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |b AS (SELECT vec_id, vv,
      |    list_transform(range(0, CAST(ceil(len(vv) / 32.0) AS INT)), w ->
      |      CAST(coalesce(list_sum(list_transform(
      |        range(w * 32, CAST(least(w * 32 + 32, len(vv)) AS INT)), i ->
      |          CASE WHEN vv[i + 1] > 0 THEN (CAST(1 AS BIGINT) << (i - w * 32))
      |               ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)) AS words
      |  FROM v)""".stripMargin

  /** Jaccard >= 0.8 read-off shared by q84 and q25: over CTEs
    * `inter(id_a, id_b, i)` (shared-shingle counts) and
    * `sizes(doc_id, sz)`. */
  private val jaccardReadoffSql: String =
    """SELECT id_a, id_b,
      |  round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** kNN-density read-off shared by q194 and q195: over an upstream
    * CTE `nb(qid, rank, sim)` of each point's neighbours without
    * itself, the rank-sorted first 10 sims folded left from 0. */
  private val densityReadoffSql: String =
    """ag AS (SELECT qid AS id,
      |    CAST(least(count(*), 10) AS BIGINT) AS n_neighbors,
      |    list_sort(list({'r': rank, 's': sim})) AS l
      |  FROM nb GROUP BY qid),
      |f AS (SELECT id, n_neighbors,
      |    list_reduce(list_transform(l[1:10], x -> x.s),
      |      (a, b) -> a + b) AS fs
      |  FROM ag)
      |SELECT id, n_neighbors,
      |  round(fs / CAST(n_neighbors AS DOUBLE), 6) AS avg_sim,
      |  round(CAST(1.0 AS DOUBLE) - fs / CAST(n_neighbors AS DOUBLE), 6)
      |    AS density_score
      |FROM f ORDER BY id""".stripMargin

  /** Histogram-quantile replay shared by q182 and q187: lineitem
    * prices passing `filter`, `bins` equi-width bins over the frame
    * [min, max] (the identical divide-then-scale bin expression), a
    * RANGE cumulative sum over the occupied bins, and the pinned
    * interpolation order, at each of `qs`. */
  private def histQuantilesSql(filter: String, bins: Int, qs: Seq[Double]): String = {
    val qList = qs.map(q => s"CAST($q AS DOUBLE)").grouped(2)
      .map(_.mkString(", ")).mkString(",\n    ")
    s"""WITH x AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
       |    FROM lineitem WHERE l_extendedprice IS NOT NULL
       |      AND $filter),
       |f AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n FROM x),
       |b AS (SELECT CASE WHEN hi = lo THEN 0
       |      ELSE least(greatest(CAST(floor((x - lo) / (hi - lo) * $bins)
       |        AS BIGINT), 0), ${bins - 1}) END AS bin
       |    FROM x, f),
       |c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
       |cc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM c),
       |qs AS (SELECT unnest([$qList]) AS q),
       |t AS (SELECT q, n, lo, hi,
       |    greatest(CAST(ceil(q * n) AS BIGINT), 1) AS target_rank
       |  FROM qs, f),
       |pick AS (SELECT t.q, t.n, t.lo, t.hi, t.target_rank,
       |    min(cc.bin) AS bin
       |  FROM t JOIN cc ON cc.cum >= t.target_rank
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT p.q, p.n, p.target_rank, p.bin,
       |  p.lo + (p.bin + CAST(p.target_rank - (cc.cum - cc.cnt) AS DOUBLE)
       |    / cc.cnt) * ((p.hi - p.lo) / $bins) AS est
       |FROM pick p JOIN cc ON cc.bin = p.bin
       |ORDER BY p.q""".stripMargin
  }

  /** int8 quantizer CTEs shared by q128, q147 and q195 — the engine's
    * op order (cast to double, amax/127 scale, round-half-up clamp):
    * `v(vec_id, vv)` through `qz(vec_id, qv)`. The caller names the two
    * middle CTEs so they never shadow a later table alias. */
  private def int8QuantizedSql(absMax: String, scaled: String): String =
    s"""v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |$absMax AS (SELECT vec_id, vv,
       |    list_max(list_transform(vv, x -> abs(x))) AS amax FROM v),
       |$scaled AS (SELECT vec_id, vv, amax, amax / 127.0 AS scale FROM $absMax),
       |qz AS (SELECT vec_id,
       |    CASE WHEN amax = 0 THEN list_transform(vv, x -> CAST(0 AS DOUBLE))
       |         ELSE list_transform(vv, x ->
       |           least(greatest(floor(x / scale + 0.5), -127.0), 127.0)) END AS qv
       |  FROM $scaled)""".stripMargin

  /** Islands-and-gaps span removal shared by q141, q198 and q210:
    * expects CTEs `b(doc_id, text)` and `rem(doc_id, off)`, the
    * 40-char windows to drop; overlapping windows merge into spans
    * and each text is rebuilt from the ordered gaps between spans
    * plus the tail. */
  private val spanRewriteSql: String =
    """isl AS (SELECT doc_id, off,
      |         CASE WHEN off <= coalesce(max(off + 40) OVER (PARTITION BY doc_id
      |              ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |              -1) THEN 0 ELSE 1 END AS brk
      |        FROM rem),
      |g AS (SELECT doc_id, off,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY off) AS grp FROM isl),
      |m AS (SELECT doc_id, grp, min(off) AS s, max(off) + 40 AS e
      |      FROM g GROUP BY 1, 2),
      |seg AS (SELECT doc_id, s, e,
      |          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS p
      |        FROM m),
      |c1 AS (SELECT seg.doc_id,
      |         string_agg(substr(t2.text, seg.p + 1, seg.s - seg.p), '' ORDER BY seg.s) AS gaps,
      |         max(seg.e) AS laste,
      |         CAST(count(*) AS BIGINT) AS n_spans
      |       FROM seg JOIN b t2 ON seg.doc_id = t2.doc_id GROUP BY seg.doc_id)
      |SELECT d.doc_id,
      |  CASE WHEN c1.doc_id IS NULL THEN d.text
      |       ELSE c1.gaps || substr(d.text, c1.laste + 1) END AS clean_text,
      |  coalesce(c1.n_spans, 0) AS n_spans_removed,
      |  CAST(coalesce(length(d.text), 0)
      |    - coalesce(length(CASE WHEN c1.doc_id IS NULL THEN d.text
      |        ELSE c1.gaps || substr(d.text, c1.laste + 1) END), 0) AS BIGINT)
      |    AS n_chars_removed
      |FROM b d LEFT JOIN c1 ON d.doc_id = c1.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Span-removal replay over the dup-injected corpus: windows every
    * `step` chars, the global first occurrence per fingerprint
    * elected and every later one removed (q141 step 20, q198 step 1). */
  private def spanRemovalSql(step: Int): String =
    s"""WITH dup AS (SELECT * FROM ${withDupsSql("documents", "doc_id", 50, 10000)}),
       |b AS (SELECT doc_id, text FROM dup),
       |w AS (SELECT doc_id, CAST(i AS INT) AS off,
       |        md5(substr(text, CAST(i AS INT) + 1, 40)) AS fp
       |      FROM (SELECT doc_id, text,
       |              unnest(generate_series(0, CAST(length(text) - 40 AS BIGINT), $step)) AS i
       |            FROM b WHERE text IS NOT NULL AND length(text) >= 40)),
       |f AS (SELECT doc_id, off,
       |        row_number() OVER (PARTITION BY fp ORDER BY doc_id, off) AS rn,
       |        count(*) OVER (PARTITION BY fp) AS occ FROM w),
       |rem AS (SELECT doc_id, off FROM f WHERE occ > 1 AND rn > 1),
       |$spanRewriteSql""".stripMargin

  /** DuckDB replay of the IVF cosine ANN (q30): the 16 lowest-id
    * corpus vectors seed the cells, each query probes its 4 nearest
    * cells and ranks their members by exact cosine. `corpus` holds
    * the CTEs ending in `corpus(vec_id, embedding)`: q30 and q230
    * replay the plain non-query rows, q233 the CDC-edited ones. */
  private def ivfCosineSql(
      corpus: String = "corpus AS (SELECT * FROM embeddings WHERE vec_id >= 5)"): String =
    s"""WITH $corpus,
       |q AS (SELECT * FROM embeddings WHERE vec_id < 5),
       |cent AS (SELECT vec_id AS centroid_id, embedding AS cv FROM corpus ORDER BY vec_id LIMIT 16),
       |assigned AS (
       |  SELECT vec_id AS id, centroid_id, embedding AS vec FROM (
       |    SELECT c.vec_id, ct.centroid_id, c.embedding,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(ct.cv AS DOUBLE[])) DESC, ct.centroid_id ASC) AS rn
       |    FROM corpus c CROSS JOIN cent ct)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qv, centroid_id FROM (
       |    SELECT q.vec_id, q.embedding, ct.centroid_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(ct.cv AS DOUBLE[])) DESC, ct.centroid_id ASC) AS rn
       |    FROM q CROSS JOIN cent ct)
       |  WHERE rn <= 4),
       |scored AS (
       |  SELECT p.query_id, a.id AS neighbor_id,
       |    list_cosine_similarity(CAST(p.qv AS DOUBLE[]), CAST(a.vec AS DOUBLE[])) AS sim
       |  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id)
       |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Refined-build replay (q234, and q235 whose rebuild ends in the
    * same index): the kmeans chain over the non-query rows (K = 16,
    * 2 Lloyd rounds), then the IVF probe/score/top-k over the refined
    * centroids. */
  private def ivfRefinedSql: String =
    s"""WITH ${kmeansCtesSql(16, 2, "WHERE vec_id >= 5")},
       |q AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings WHERE vec_id < 5),
       |probes AS (
       |  SELECT id AS query_id, v AS qv, centroid_id FROM (
       |    SELECT q.id, q.v, ct.centroid_id,
       |      row_number() OVER (PARTITION BY q.id
       |        ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.centroid_id ASC) AS rn
       |    FROM q CROSS JOIN cent2 ct)
       |  WHERE rn <= 4),
       |fasg AS (
       |  SELECT id, centroid_id, v FROM (
       |    SELECT c.id, ct.centroid_id, c.v,
       |      row_number() OVER (PARTITION BY c.id
       |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.centroid_id ASC) AS rn
       |    FROM corpus c CROSS JOIN cent2 ct)
       |  WHERE rn = 1),
       |scored AS (
       |  SELECT p.query_id, a.id AS neighbor_id,
       |    list_cosine_similarity(p.qv, a.v) AS sim
       |  FROM probes p JOIN fasg a USING (centroid_id))
       |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of the IVF-pruned binary ANN (q207) — also the
    * oracle of the auto-gate registration q211, which routes to the
    * identical IVF plan. */
  private def q207HammingIvfSql: String =
    s"""WITH corpus AS (SELECT * FROM embeddings WHERE vec_id >= 5),
       |q AS (SELECT * FROM embeddings WHERE vec_id < 5),
       |cent AS (SELECT vec_id AS centroid_id, embedding AS cv FROM corpus ORDER BY vec_id LIMIT 16),
       |assigned AS (
       |  SELECT vec_id AS id, centroid_id FROM (
       |    SELECT c.vec_id, ct.centroid_id,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(ct.cv AS DOUBLE[])) DESC, ct.centroid_id ASC) AS rn
       |    FROM corpus c CROSS JOIN cent ct)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, centroid_id FROM (
       |    SELECT q.vec_id, ct.centroid_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(ct.cv AS DOUBLE[])) DESC, ct.centroid_id ASC) AS rn
       |    FROM q CROSS JOIN cent ct)
       |  WHERE rn <= 4),
       |$packedWordsSql,
       |hd AS (SELECT p.query_id, a.id AS neighbor_id,
       |    CAST(coalesce(list_sum(list_transform(
       |      range(0, CAST(len(bq.words) AS INT)), i ->
       |        CAST(bit_count(xor(bq.words[i + 1], bc.words[i + 1])) AS BIGINT))),
       |      0) AS BIGINT) AS hd
       |  FROM probes p
       |  JOIN assigned a ON p.centroid_id = a.centroid_id
       |  JOIN b bq ON bq.vec_id = p.query_id
       |  JOIN b bc ON bc.vec_id = a.id),
       |cand AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY hd ASC, neighbor_id ASC) AS crank FROM hd),
       |rr AS (SELECT c.query_id, c.neighbor_id, c.hd,
       |    list_cosine_similarity(vq.vv, vc.vv) AS sim
       |  FROM cand c
       |  JOIN v vq ON vq.vec_id = c.query_id
       |  JOIN v vc ON vc.vec_id = c.neighbor_id
       |  WHERE c.crank <= 40)
       |SELECT query_id, rank, neighbor_id, hd, round(sim, 6) AS sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id ASC) AS rank FROM rr)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Simplified-silhouette replay over the same kmeans chain: per
    * point the best and runner-up centroid cosine (same tie-break as
    * the engine's sorted-slice), a/b cosine distances, s in pure
    * double arithmetic, DECIMAL(38,12) sum for the per-cluster mean. */
  private def q201Sql: String =
    s"""WITH ${kmeansCtesSql()},
       |ssims AS (SELECT c.id, ct.centroid_id,
       |    list_cosine_similarity(c.v, ct.cv) AS sim
       |  FROM corpus c CROSS JOIN cent$Q38Iters ct),
       |ranked AS (SELECT id, centroid_id, sim,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY sim DESC, centroid_id ASC) AS rn FROM ssims),
       |pt AS (SELECT a.id, a.centroid_id,
       |    1 - a.sim AS da, 1 - b.sim AS db
       |  FROM ranked a JOIN ranked b ON a.id = b.id
       |  WHERE a.rn = 1 AND b.rn = 2),
       |sil AS (SELECT id, centroid_id,
       |    CASE WHEN greatest(da, db) = 0 THEN CAST(0 AS DOUBLE)
       |         ELSE (db - da) / greatest(da, db) END AS s FROM pt)
       |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(CAST(s AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
       |    AS mean_sil
       |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB twin of Dedup.minhashCandidates' signature aggregation:
    * one hash31 per shingle, 16 universal-hash mins. */
  private def minhashMinsSql: String =
    Dedup.minhashParams(16).zipWithIndex.map { case ((a, b), i) =>
      s"min((v * $a + $b) % ${Dedup.MinhashP}) AS h$i"
    }.mkString(", ")

  private def minhashBandsSql: String =
    (0 until 4).map { b =>
      val hs = (0 until 4).map(r => s"CAST(h${b * 4 + r} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($hs) AS bucket FROM sig"
    }.mkString(" UNION ALL ")

  private def stop(lang: String): Seq[String] = TextAnalysis.stopwords(lang)
  private def dlist(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")
}
