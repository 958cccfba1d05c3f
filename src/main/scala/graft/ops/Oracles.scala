package graft.ops

/** DuckDB oracle SQL for every entry in [[Queries]] (SparkEntry.oracleSql).
  *
  * Contract (SURVEY §6): same column names and dtypes as the Spark result
  * (computed ints cast to bigint, money through DECIMAL then double),
  * total ORDER BY, DuckDB dialect (list lambdas, `string_split_regex`,
  * `regexp_replace(..., 'g')`, RE2 `\x{...}` unicode escapes).
  */
object Oracles {
  private val EN = "('the','a','of','and','to','in','is','for')"
  private val DE = "('der','die','das','und','ist','nicht','ein')"
  private val FR = "('le','la','les','et','est','une','des')"
  private val ES = "('el','los','las','y','es','una','por')"
  // Shared VERBATIM with TextFunctions: explicit whitespace class (Java's
  // \s and RE2's \s disagree on \x0B — the class makes both engines agree
  // on any input). DuckDB '...' literals pass backslashes through to RE2
  // untouched, so the raw pattern interpolates directly.
  private val WS = graft.text.TextFunctions.wsClass
  private val PUNCT = graft.text.TextFunctions.punctClass
  private val TOKS =
    s"list_filter(string_split_regex(lower(text), '$WS+'), x -> x <> '')"
  /** Exact revenue: factors cast to decimal BEFORE multiplying, so the
    * product is exact and no rounding-mode question arises (matches
    * Queries.revenue). */
  private val REV =
    "cast(l_extendedprice AS DECIMAL(12,2)) * cast(1 - l_discount AS DECIMAL(6,2))"
  private def d2(e: String) = s"cast(sum(cast($e AS DECIMAL(18,2))) AS double)"
  private def d4(e: String) = s"cast(sum(cast($e AS DECIMAL(18,4))) AS double)"
  private def xsum(e: String) = s"cast(sum($e) AS double)"
  private val CNT = "cast(count(*) as bigint)"

  /** q_cdc_feed's oracle, generated: the four chunk-boundary states
    * (global per-key argmax under (tsec, event_id), tombstone winners
    * dropped — the q_stream_upsert law), then the three consecutive
    * diffs unioned with the producing version stamped on each row.
    * State rows are uniquely identified by event_id, so U ⟺ the
    * winning event_id changed. */
  private def cdcFeedSql: String = {
    def st(v: Int): String = {
      val bound =
        if (v == 3) ""
        else s", b WHERE e.tsec < b.lo + (b.span * ${v + 1}) // 4"
      s"s$v AS (SELECT user_id, event_id, value FROM (\n" +
        "    SELECT e.user_id, e.tsec, e.event_id, e.value,\n" +
        "      row_number() OVER (PARTITION BY e.user_id\n" +
        "        ORDER BY e.tsec DESC, e.event_id DESC) AS rk\n" +
        s"    FROM e$bound)\n" +
        "  WHERE rk = 1 AND event_id % 10 <> 3)"
    }
    def diff(v: Int): String =
      s"SELECT cast($v AS bigint) AS version,\n" +
        "  coalesce(a.user_id, c.user_id) AS user_id,\n" +
        "  CASE WHEN a.user_id IS NULL THEN 'I'\n" +
        "       WHEN c.user_id IS NULL THEN 'D' ELSE 'U' END AS op,\n" +
        "  a.event_id AS old_event_id, c.event_id AS new_event_id,\n" +
        "  c.value AS new_value\n" +
        s"FROM s${v - 1} a FULL JOIN s$v c ON a.user_id = c.user_id\n" +
        "WHERE a.user_id IS NULL OR c.user_id IS NULL\n" +
        "   OR a.event_id <> c.event_id"
    "WITH e AS (SELECT user_id,\n" +
      "    cast(floor(epoch(ts)) AS bigint) AS tsec,\n" +
      "    event_id, value FROM events),\n" +
      "b AS (SELECT min(tsec) AS lo,\n" +
      "    max(tsec) - min(tsec) + 1 AS span FROM e),\n" +
      (0 to 3).map(st).mkString(",\n") + "\n" +
      (1 to 3).map(diff).mkString("\nUNION ALL\n") + "\n" +
      "ORDER BY version, user_id"
  }

  /** RFC 3986 §6.2.2 percent-encoding normalization, the DuckDB replay
    * of [[graft.text.TextFunctions.pctNormalize]]: split on '%', decode
    * a valid triplet whose octet is unreserved (ALPHA/DIGIT/-._~),
    * uppercase the hex of any other valid triplet, pass a bare '%'
    * through literally. */
  private def pctSql(c: String): String = {
    val hx = "('0x' || substr(p, 1, 2))::int"
    s"""CASE WHEN len(string_split($c, '%')) <= 1 THEN $c
       |  ELSE string_split($c, '%')[1] || array_to_string(
       |    list_transform(string_split($c, '%')[2:], p ->
       |      CASE WHEN regexp_matches(substr(p, 1, 2),
       |          '^[0-9A-Fa-f]{2}$$')
       |        THEN CASE WHEN ($hx BETWEEN 48 AND 57)
       |            OR ($hx BETWEEN 65 AND 90)
       |            OR ($hx BETWEEN 97 AND 122)
       |            OR $hx IN (45, 46, 95, 126)
       |          THEN chr($hx) || substr(p, 3)
       |          ELSE '%' || upper(substr(p, 1, 2)) || substr(p, 3) END
       |        ELSE '%' || p END), '')
       |  END""".stripMargin
  }

  /** Shared synthesis of the deterministic crawl URL — the DuckDB
    * replay of Queries.synthUrl, interpolated verbatim into both
    * q_url_dedup and q_pipeline_web. */
  private val synthUrlSql =
    """CASE WHEN doc_id % 4 = 1 THEN 'HTTP://WWW.'
      |      ELSE 'HTTPS://WWW.' END || source || '.Example.COM' ||
      |    CASE WHEN doc_id % 4 = 0 THEN ':443'
      |      WHEN doc_id % 4 = 1 THEN ':80' ELSE '' END ||
      |    '/' || lang || '/Page/' || cast(doc_id % 50 AS varchar) ||
      |    CASE WHEN doc_id % 10 = 7 THEN '/%7Edir%2fsub' ELSE '' END ||
      |    CASE WHEN doc_id % 3 = 0 THEN
      |        '?utm_source=feed&id=' || cast(doc_id % 7 AS varchar) ||
      |        '&utm_campaign=br'
      |      WHEN doc_id % 3 = 1 THEN
      |        '?id=' || cast(doc_id % 7 AS varchar) ||
      |        '&ref=h%6Fme&next=//cdn.example/a'
      |      ELSE '/' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END"""
      .stripMargin

  /** BM25 oracle (q_bm25): per-term scores share one template so the
    * operation order provably matches the Spark side's. */
  private lazy val bm25Sql: String = {
    val terms = Seq("spark", "window", "merge")
    def term(i: Int): String =
      s"""((((cast(n_docs AS double) - cast(df$i AS double)) + 0.5)
         |      / (cast(df$i AS double) + 0.5))
         |   * ((cast(tf$i AS double) * 2.2)
         |      / (cast(tf$i AS double) + 1.2 * (0.25
         |         + (0.75 * cast(dl AS double))
         |           / (cast(sum_dl AS double) / cast(n_docs AS double))))))"""
        .stripMargin
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"cast(len(list_filter(toks, x -> x = '$t')) as bigint) AS tf$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"cast(count(*) FILTER (WHERE tf$i > 0) as bigint) AS df$i")
      .mkString(",\n    ")
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |b AS (SELECT doc_id, cast(len(toks) as bigint) AS dl,
       |    $tfCols
       |  FROM t),
       |st AS (SELECT cast(count(*) as bigint) AS n_docs,
       |    cast(sum(dl) as bigint) AS sum_dl,
       |    $dfCols
       |  FROM b)
       |SELECT doc_id, cast(tf0 + tf1 + tf2 as bigint) AS n_hits,
       |  ((${term(0)}
       |   + ${term(1)})
       |   + ${term(2)}) AS score
       |FROM b, st
       |WHERE tf0 + tf1 + tf2 > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** q_dedup_unicode oracle: the same precomposed/decomposed twin
    * construction (shared literals from [[Queries]]). */
  private lazy val dedupUnicodeSql: String = {
    val ac = Queries.combiningAcute
    val dec = Seq("a", "e", "i", "o", "u").foldLeft("text") { (e, v) =>
      s"replace($e, '$v', '$v$ac')"
    }
    s"""WITH pre AS (SELECT doc_id, lang,
       |    translate(text, 'aeiou', '${Queries.acuteVowels}') AS text
       |  FROM documents),
       |dec AS (SELECT doc_id + 10000000 AS doc_id, lang,
       |    $dec AS text
       |  FROM documents),
       |u AS (SELECT * FROM pre UNION ALL SELECT * FROM dec)
       |SELECT lang, cast(count(*) as bigint) AS n_rows,
       |  cast(count(distinct md5(nfc_normalize(text))) as bigint)
       |    AS n_content,
       |  cast(count(distinct md5(text)) as bigint) AS n_raw
       |FROM u GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q_fold_text oracle: same twin construction, DuckDB's own
    * strip_accents. */
  private lazy val foldTextSql: String = {
    val ac = Queries.combiningAcute
    val dec = Seq("a", "e", "i", "o", "u").foldLeft("text") { (e, v) =>
      s"replace($e, '$v', '$v$ac')"
    }
    s"""WITH x AS (SELECT lang,
       |    lower(strip_accents(
       |      translate(text, 'aeiou', '${Queries.acuteVowels}')))
       |      AS fold_pre,
       |    lower(strip_accents($dec)) AS fold_dec,
       |    lower(text) AS base
       |  FROM documents)
       |SELECT lang, cast(count(*) as bigint) AS n_docs,
       |  cast(sum(CASE WHEN fold_pre = base THEN 1 ELSE 0 END)
       |    as bigint) AS n_pre_ok,
       |  cast(sum(CASE WHEN fold_dec = base THEN 1 ELSE 0 END)
       |    as bigint) AS n_dec_ok,
       |  cast(count(distinct md5(fold_pre)) as bigint) AS n_content
       |FROM x GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Profile oracle (q_profile): one UNION ALL leg per column. */
  private lazy val profileSql: String = {
    def leg(c: String, numeric: Boolean): String = {
      val mm =
        if (numeric) s"cast(min($c) as double) AS min_d, " +
          s"cast(max($c) as double) AS max_d"
        else "cast(NULL as double) AS min_d, cast(NULL as double) AS max_d"
      s"""SELECT '$c' AS col_name, cast(count(*) as bigint) AS n,
         |  cast(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) as bigint)
         |    AS n_null,
         |  cast(count(distinct $c) as bigint) AS n_distinct, $mm
         |FROM e""".stripMargin
    }
    val legs =
      Seq("event_id", "user_id", "value", "tsec").map(leg(_, numeric = true)) ++
      Seq("event_type", "props").map(leg(_, numeric = false))
    s"""WITH e AS (SELECT *, cast(floor(epoch(ts)) as bigint) AS tsec
       |  FROM events)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY col_name""".stripMargin
  }

  /** The exact J >= 0.8 pair set over documents, shared verbatim by
    * q_dedup_minhash (banded-LSH discovery, lossless on this data) and
    * q_jaccard_join (prefix-filtered exact join, complete by theorem). */
  private lazy val exactJaccardPairsCte: String =
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM t WHERE len(toks) >= 3),
       |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    cast(count(*) as double) AS inter
       |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b,
       |    inter / (len(sa.sh) + len(sb.sh) - inter) AS j
       |  FROM i JOIN s sa ON sa.doc_id = i.doc_a
       |         JOIN s sb ON sb.doc_id = i.doc_b)""".stripMargin

  private lazy val exactJaccardPairsSql: String =
    s"""$exactJaccardPairsCte
       |SELECT doc_a, doc_b, j FROM p WHERE j >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q_dedup_incr oracle: the SAME exact pair set restricted to pairs
    * touching the newest-20% batch (cut = (max_id + 1) * 4 / 5 in
    * integer math on both sides). Banding-miss exposure is identical
    * to q_dedup_minhash's: the LSH layer is lossless on this data, and
    * the incremental form provably generates the same candidates. */
  private lazy val incrementalPairsSql: String =
    s"""$exactJaccardPairsCte,
       |c AS (SELECT (max(doc_id) + 1) * 4 // 5 AS cut FROM documents)
       |SELECT doc_a, doc_b, j FROM p, c
       |WHERE j >= 0.8 AND (doc_a >= cut OR doc_b >= cut)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Unrolled K=8 integer-PageRank twin over the exact J >= 0.8 pair
    * set — each step repeats graft.dedup.Dedup.pageRank's recurrence
    * r' = 150000 + (85 * sum(r // deg)) // 100 exactly (DuckDB `//`
    * and Spark `div` agree on non-negative integers), so the chain is
    * hash-comparable with no tolerance band. */
  private lazy val pageRankSql: String = {
    val steps = (1 to 8).map { i =>
      s"""r$i AS (SELECT ed.dst AS doc_id,
         |    150000 + (85 * sum(r${i - 1}.pr // ed.deg)) // 100 AS pr
         |  FROM ed JOIN r${i - 1} ON r${i - 1}.doc_id = ed.src
         |  GROUP BY ed.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM t WHERE len(toks) >= 3),
       |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    cast(count(*) as double) AS inter
       |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b FROM i
       |  JOIN s sa ON sa.doc_id = i.doc_a
       |  JOIN s sb ON sb.doc_id = i.doc_b
       |  WHERE inter / (len(sa.sh) + len(sb.sh) - inter) >= 0.8),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p),
       |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN d USING (src)),
       |r0 AS (SELECT src AS doc_id, cast(1000000 AS bigint) AS pr
       |  FROM d),
       |$steps
       |SELECT r8.doc_id, cast(d.deg AS bigint) AS deg,
       |  cast(r8.pr AS bigint) AS pr
       |FROM r8 JOIN d ON d.src = r8.doc_id ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain ending in `e(a, b)` (a < b): the exact J >= 0.8
    * undirected similarity edge set — the graph the graph-analytics
    * oracles (triangles, clustering coefficient, k-core) all close
    * over. */
  private lazy val pairEdgeCte: String =
    s"""t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM t WHERE len(toks) >= 3),
       |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    cast(count(*) as double) AS inter
       |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b,
       |    inter / (len(sa.sh) + len(sb.sh) - inter) AS j
       |  FROM i JOIN s sa ON sa.doc_id = i.doc_a
       |         JOIN s sb ON sb.doc_id = i.doc_b),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM p WHERE j >= 0.8)""".stripMargin

  /** Unrolled R=8 peeling rounds to the 2-core: each round recomputes
    * degrees over the surviving edge set and keeps edges whose BOTH
    * endpoints still have degree >= 2 — the same fixed-round contract
    * the Spark side runs (KcoreSpec asserts a 9th round is a no-op at
    * the graded SFs, i.e. the fixpoint is reached inside the
    * contract). */
  private lazy val kcoreSql: String = {
    // every e_i MATERIALIZED: each round references its predecessor
    // ~5 times, so DuckDB's default CTE inlining would expand the base
    // pair discovery 5^8 times (observed as fd exhaustion before any
    // row was produced); materialization makes the unrolled chain
    // linear, like the Spark side's per-round localCheckpoint
    val steps = (1 to 8).map { i =>
      s"""d$i AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM e${i - 1}
         |    UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= 2),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT v FROM k$i)
         |    AND b IN (SELECT v FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairEdgeCte,
       |e0 AS MATERIALIZED (SELECT a, b FROM e),
       |$steps
       |SELECT DISTINCT v AS doc_id FROM (
       |  SELECT a AS v FROM e8 UNION ALL SELECT b FROM e8)
       |ORDER BY doc_id""".stripMargin
  }

  /** q_graph_reuse oracle: ONE replay of the exact J >= 0.8 pair set,
    * then the five graph analytics the Spark side amortizes over the
    * parquet edge artifact — recursive-closure components, the
    * keep-best window, the unrolled 8-step integer PageRank, the naive
    * triangle closure, and the unrolled 8-round 2-core — rolled up per
    * component. Every number is integer math, so the rollup hashes
    * bit-for-bit against the composed Spark plan. */
  private lazy val graphReuseSql: String = {
    val prSteps = (1 to 8).map { i =>
      s"""r$i AS (SELECT edd.dst AS doc_id,
         |    150000 + (85 * sum(r${i - 1}.pr // edd.deg)) // 100 AS pr
         |  FROM edd JOIN r${i - 1} ON r${i - 1}.doc_id = edd.src
         |  GROUP BY edd.dst)""".stripMargin
    }.mkString(",\n")
    val coreSteps = (1 to 8).map { i =>
      s"""cd$i AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM ce${i - 1}
         |    UNION ALL SELECT b FROM ce${i - 1}) GROUP BY 1),
         |ck$i AS MATERIALIZED (SELECT v FROM cd$i WHERE deg >= 2),
         |ce$i AS MATERIALIZED (SELECT a, b FROM ce${i - 1}
         |  WHERE a IN (SELECT v FROM ck$i)
         |    AND b IN (SELECT v FROM ck$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM t WHERE len(toks) >= 3),
       |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    cast(count(*) as double) AS inter
       |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b FROM i
       |  JOIN s sa ON sa.doc_id = i.doc_a
       |  JOIN s sb ON sb.doc_id = i.doc_b
       |  WHERE inter / (len(sa.sh) + len(sb.sh) - inter) >= 0.8),
       |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p),
       |ed AS (SELECT a AS src, b AS dst FROM e
       |  UNION ALL SELECT b, a FROM e),
       |rc AS (SELECT src AS id, dst AS reach FROM ed
       |  UNION
       |  SELECT rc.id, ed.dst FROM rc JOIN ed ON rc.reach = ed.src),
       |lab AS (SELECT id AS doc_id, least(id, min(reach)) AS comp
       |  FROM rc GROUP BY id),
       |kx AS (SELECT comp, l.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY comp
       |      ORDER BY d.n_chars DESC, l.doc_id) AS rk,
       |    count(*) OVER (PARTITION BY comp) AS n_members
       |  FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
       |kb AS (SELECT comp, doc_id AS keep_id, n_chars AS keep_chars,
       |    cast(n_members AS bigint) AS n_members FROM kx WHERE rk = 1),
       |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
       |edd AS (SELECT ed.src, ed.dst, dg.deg FROM ed JOIN dg USING (src)),
       |r0 AS (SELECT src AS doc_id, cast(1000000 AS bigint) AS pr
       |  FROM dg),
       |$prSteps,
       |prc AS (SELECT lab.comp, cast(sum(r8.pr) AS bigint) AS sum_pr
       |  FROM r8 JOIN lab ON lab.doc_id = r8.doc_id GROUP BY 1),
       |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a
       |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |trc AS (SELECT lab.comp, cast(count(*) AS bigint) AS n_tri
       |  FROM tr JOIN lab ON lab.doc_id = tr.x GROUP BY 1),
       |ce0 AS MATERIALIZED (SELECT a, b FROM e),
       |$coreSteps,
       |core AS (SELECT DISTINCT v FROM (
       |  SELECT a AS v FROM ce8 UNION ALL SELECT b FROM ce8)),
       |crc AS (SELECT lab.comp, cast(count(*) AS bigint) AS n_core2
       |  FROM core JOIN lab ON lab.doc_id = core.v GROUP BY 1)
       |SELECT kb.comp, kb.n_members, kb.keep_id, kb.keep_chars,
       |  coalesce(trc.n_tri, 0) AS n_tri,
       |  coalesce(crc.n_core2, 0) AS n_core2, prc.sum_pr
       |FROM kb JOIN prc USING (comp)
       |  LEFT JOIN trc USING (comp)
       |  LEFT JOIN crc USING (comp)
       |ORDER BY comp""".stripMargin
  }

  /** The closed-form dHash derivation — DuckDB recomputes the real
    * PNG path's hash from the synthetic pixel formula (decode →
    * integer grayscale → 9×8 block means → 64 gradient bits); shared
    * by q_image_dhash (per-doc hash gate) and q_image_neardup (brute
    * pair join over the same hashes). Ends in `dh(doc_id, w, h,
    * dhash)`. */
  private lazy val dhashCte: String = {
    def mean(i: Int, j: Int): String = {
      val x0 = s"(($i * w) // 9)"; val x1 = s"((${i + 1} * w) // 9)"
      val y0 = s"(($j * h) // 8)"; val y1 = s"((${j + 1} * h) // 8)"
      s"""(list_sum(flatten(list_transform(range($x0, $x1), x ->
         | list_transform(range($y0, $y1), y ->
         |  (299 * ((x*7 + y*11 + d*3) % 256)
         |   + 587 * ((x*5 + y*3 + d*7) % 256)
         |   + 114 * ((x*13 + y + d) % 256)) // 1000))))
         | // (($x1 - $x0) * ($y1 - $y0)))""".stripMargin
    }
    val meanCols = (for (i <- 0 to 8; j <- 0 to 7)
      yield s"  ${mean(i, j)} AS m_${i}_$j").mkString(",\n")
    val bits = (for (j <- 0 to 7; i <- 0 to 7) yield {
      // DuckDB raises on 1::BIGINT << 63; the sign bit is the
      // two's-complement minimum, emitted as a literal (and last in
      // the chain, so partial sums stay in range)
      val v = if (j * 8 + i == 63) "(-9223372036854775807 - 1)"
        else s"(1::BIGINT << ${j * 8 + i})"
      s"(CASE WHEN m_${i}_$j > m_${i + 1}_$j THEN $v ELSE 0 END)"
    }).mkString(" + ")
    s"""WITH dims AS (
       |  SELECT doc_id, 16 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
       |    doc_id % 251 AS d
       |  FROM documents),
       |m AS (SELECT doc_id, w, h,
       |$meanCols
       |  FROM dims),
       |dh AS (SELECT doc_id, w, h, cast($bits as bigint) AS dhash
       |  FROM m)""".stripMargin
  }

  /** SCD2 history over the events changelog — shared verbatim by
    * q_scd2 (one-shot build) and q_scd2_incr (incremental fold, which
    * must equal the one-shot result bit-for-bit). */
  private lazy val scd2Sql: String =
    """WITH ch AS (
      |  SELECT user_id, cast(floor(epoch(ts)) as bigint) AS tsec,
      |    event_id, value FROM events),
      |d AS (
      |  SELECT *, lag(value) OVER w AS prev,
      |    row_number() OVER w AS rn
      |  FROM ch WINDOW w AS (PARTITION BY user_id
      |    ORDER BY tsec, event_id)),
      |kept AS (
      |  SELECT * FROM d
      |  WHERE rn = 1 OR value IS DISTINCT FROM prev)
      |SELECT user_id,
      |  cast(row_number() OVER w AS bigint) AS version, value,
      |  tsec AS valid_from,
      |  lead(tsec) OVER w AS valid_to,
      |  (lead(tsec) OVER w IS NULL) AS is_current
      |FROM kept WINDOW w AS (PARTITION BY user_id
      |  ORDER BY tsec, event_id)
      |ORDER BY user_id, version""".stripMargin

  val sql: Map[String, String] = Map(
    "q_each" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_every" ->
      """SELECT k FROM (
        |  SELECT o_orderkey AS k, 0 AS t FROM orders
        |  UNION ALL SELECT NULL AS k, 1 AS t
        |) u ORDER BY t, k""".stripMargin,

    "q_map" ->
      """SELECT l_orderkey * 10 + l_linenumber AS line_uid,
        |  l_quantity * 2.0 AS qty2, upper(l_returnflag) AS flag
        |FROM lineitem ORDER BY line_uid, qty2, flag""".stripMargin,

    "q_mapm" ->
      """SELECT o_orderkey, cast(length(o_orderpriority) as bigint) AS prio_len
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_take" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,

    "q_drop" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 40 OFFSET 10""".stripMargin,

    "q_take_within" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_quantity) AS rn
        |  FROM lineitem) x
        |WHERE rn <= 2 ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_drop_within" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_quantity) AS rn
        |  FROM lineitem) x
        |WHERE rn > 2 ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_takewhile" ->
      """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    min(CASE WHEN o_totalprice < 300000 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY o_orderkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ok
        |  FROM orders) x
        |WHERE ok = 1 ORDER BY o_orderkey""".stripMargin,

    "q_flatmap" ->
      s"""SELECT doc_id,
         |  unnest(list_filter(string_split_regex(text, '$WS+'), x -> x <> ''))
         |    AS token
         |FROM documents ORDER BY doc_id, token""".stripMargin,

    "q_compose" ->
      s"""SELECT l_returnflag, ${xsum(REV)} AS revenue, $CNT AS n
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_arith" ->
      """SELECT l_orderkey, l_linenumber, l_quantity + l_tax AS a,
        |  l_quantity * 2.0 AS b, -l_discount AS neg,
        |  greatest(l_quantity, 30.0) AS g
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, a, neg, g""".stripMargin,

    "q_reduce" ->
      s"""SELECT ${d2("l_quantity")} AS total_qty,
         |  ${d2("l_extendedprice")} AS total_price, $CNT AS n
         |FROM lineitem""".stripMargin,

    "q_lfold" ->
      s"""SELECT ${d2("l_quantity")} AS total_qty FROM lineitem""",

    "q_merge" ->
      """SELECT o_orderkey, cast(row_number() OVER (ORDER BY rn, side) as bigint) AS pos
        |FROM (
        |  SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn, 0 AS side
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn, 1 AS side
        |  FROM orders WHERE o_orderkey % 2 <> 0) u
        |ORDER BY pos""".stripMargin,

    "q_merge_within" ->
      """SELECT user_id, event_id,
        |  cast(row_number() OVER (PARTITION BY user_id ORDER BY rn, side)
        |    as bigint) AS pos
        |FROM (
        |  SELECT user_id, event_id, row_number() OVER
        |      (PARTITION BY user_id ORDER BY event_id) AS rn, 0 AS side
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT user_id, event_id, row_number() OVER
        |      (PARTITION BY user_id ORDER BY event_id) AS rn, 1 AS side
        |  FROM events WHERE event_id % 2 <> 0) u
        |ORDER BY user_id, pos""".stripMargin,

    "q_concat" ->
      """SELECT o_orderkey, band FROM (
        |  SELECT o_orderkey, 'lo' AS band FROM orders WHERE o_totalprice < 100000
        |  UNION ALL
        |  SELECT o_orderkey, 'hi' AS band FROM orders WHERE o_totalprice >= 400000
        |) u ORDER BY band, o_orderkey""".stripMargin,

    "q_sink_roundtrip" ->
      s"""SELECT $CNT AS n, ${d2("o_totalprice")} AS total
         |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    // partitioned layout round trip: the oracle reads the SOURCE table
    // with the same predicate — equality proves the partitionBy write +
    // pruned read is lossless (the pruning itself is a ScaleSpec plan
    // assertion)
    "q_partition_prune" ->
      """SELECT lang, source, cast(count(*) as bigint) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q_route" ->
      s"""SELECT CASE WHEN event_type IN ('click','view') THEN 'engagement'
         |  ELSE 'conversion' END AS branch, $CNT AS n, ${d4("value")} AS sv
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tee" ->
      """SELECT event_id, event_type FROM events ORDER BY event_id""",

    "q_dimap" ->
      """SELECT event_id, cast(floor(value * 2 / 10) as bigint) AS bucket,
        |  'b' || cast(cast(floor(value * 2 / 10) as bigint) as varchar) AS label
        |FROM events ORDER BY event_id""".stripMargin,

    "q_arrow_first" ->
      """SELECT event_id, upper(event_type) AS etype, value FROM events
        |ORDER BY event_id""".stripMargin,

    "q_fanout" ->
      """SELECT event_id, user_id,
        |  cast(sum(cast(value AS DECIMAL(18,4))) OVER w AS double) AS rt,
        |  cast(count(*) OVER w as bigint) AS rn
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_choice" ->
      """SELECT event_id, out, side FROM (
        |  SELECT event_id, value * 2 AS out, 'L' AS side FROM events
        |  WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_id, -value AS out, 'R' AS side FROM events
        |  WHERE event_id % 2 <> 0) u
        |ORDER BY event_id""".stripMargin,

    "q_pivot" ->
      """SELECT date_trunc('day', ts) AS day,
        |  cast(count(CASE WHEN event_type = 'click' THEN 1 END) as bigint)
        |    AS click,
        |  cast(count(CASE WHEN event_type = 'view' THEN 1 END) as bigint)
        |    AS view,
        |  cast(count(CASE WHEN event_type = 'purchase' THEN 1 END) as bigint)
        |    AS purchase,
        |  cast(count(CASE WHEN event_type = 'signup' THEN 1 END) as bigint)
        |    AS signup
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // melt of the pivot: every (day, one of the 4 types) cell, 0-filled
    "q_unpivot" ->
      """WITH d AS (SELECT date_trunc('day', ts) AS day FROM events
        |  GROUP BY 1),
        |t AS (SELECT unnest(['click','purchase','signup','view'])
        |  AS event_type),
        |c AS (SELECT date_trunc('day', ts) AS day, event_type,
        |    count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT d.day, t.event_type, cast(coalesce(c.n, 0) as bigint) AS n
        |FROM d CROSS JOIN t
        |LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
        |ORDER BY d.day, t.event_type""".stripMargin,

    "q_setops" ->
      """WITH b AS (SELECT c_custkey AS k FROM customer
        |           INTERSECT SELECT o_custkey FROM orders),
        |n AS (SELECT c_custkey AS k FROM customer
        |      EXCEPT SELECT o_custkey FROM orders)
        |SELECT k, 'both' AS side FROM b
        |UNION ALL SELECT k, 'never_ordered' AS side FROM n
        |ORDER BY side, k""".stripMargin,

    // BAG semantics: multiplicities must agree engine-to-engine
    "q_setops_all" ->
      """WITH a AS (SELECT l_partkey AS k FROM lineitem
        |           WHERE l_linenumber <= 3),
        |b AS (SELECT l_partkey AS k FROM lineitem
        |      WHERE l_linenumber >= 2),
        |ia AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
        |ea AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
        |SELECT k, n, op FROM (
        |  SELECT k, cast(count(*) AS bigint) AS n,
        |    'intersect_all' AS op FROM ia GROUP BY 1
        |  UNION ALL
        |  SELECT k, cast(count(*) AS bigint) AS n,
        |    'except_all' AS op FROM ea GROUP BY 1)
        |ORDER BY op, k""".stripMargin,

    // fixed-offset zones → the conversion is exactly interval
    // arithmetic, immune to tz-db drift
    "q_timezone" ->
      s"""SELECT CAST(ts + INTERVAL 330 MINUTE AS DATE) AS ist_day,
         |  cast(hour(ts - INTERVAL 480 MINUTE) AS bigint) AS pst_hour,
         |  $CNT AS n, ${d4("value")} AS sv
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_scan" ->
      """SELECT event_id, user_id,
        |  cast(sum(cast(value AS DECIMAL(18,4)))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS rt
        |FROM events ORDER BY event_id""".stripMargin,

    "q_running_avg" ->
      """SELECT event_id, user_id,
        |  cast(sum(cast(value AS DECIMAL(18,4))) OVER w AS double)
        |    / cast(count(*) OVER w as bigint) AS ravg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${d2("l_quantity")} AS sum_qty,
         |  ${d2("l_extendedprice")} AS sum_base_price,
         |  ${xsum(REV)} AS sum_disc_price,
         |  ${xsum(s"$REV * cast(1 + l_tax AS DECIMAL(6,2))")} AS sum_charge,
         |  ${d2("l_quantity")} / $CNT AS avg_qty,
         |  $CNT AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q6_filter_agg" ->
      s"""SELECT ${xsum("cast(l_extendedprice AS DECIMAL(12,2)) * cast(l_discount AS DECIMAL(6,2))")} AS revenue, $CNT AS n
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    // format round trip: one aggregate off the original parquet,
    // cross-joined with the three format labels — equality proves
    // each ORC/CSV/JSON round trip lossless
    "q_format_roundtrip" ->
      s"""WITH a AS (SELECT $CNT AS n, ${d2("l_quantity")} AS qty_sum,
         |    cast(count(DISTINCT l_returnflag) AS bigint) AS flags,
         |    max(l_shipdate) AS max_ship
         |  FROM lineitem WHERE l_orderkey % 10 = 0)
         |SELECT f.format, a.n, a.qty_sum, a.flags, a.max_ship
         |FROM (VALUES ('csv'), ('json'), ('orc')) f(format), a
         |ORDER BY format""".stripMargin,

    // LATERAL: the identical SQL, DuckDB's native lateral join
    "q_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o ON true
        |ORDER BY c.c_custkey""".stripMargin,

    // MV rollup rewrite: the oracle computes from the ORIGINAL table,
    // so equality proves the summary-table rewrite semantics-preserving
    "q_mv_rollup" ->
      s"""SELECT l_returnflag, ${d2("l_quantity")} AS sum_qty,
         |  ${d2("l_extendedprice")} AS sum_price, $CNT AS n
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // MV rewrite under a grouping-column filter: the oracle filters
    // the ORIGINAL fact table; the Spark side answers from the MV
    // with the predicate pushed onto the summary scan
    "q_mv_filter" ->
      s"""SELECT l_returnflag, ${d2("l_quantity")} AS sum_qty,
         |  ${d2("l_extendedprice")} AS sum_price, $CNT AS n
         |FROM lineitem WHERE l_linestatus = 'F'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ABC/Pareto: the running share in pure DECIMAL arithmetic (no
    // float share ever exists); the Spark side's parallel cumsumExact
    // must equal this single-window form bit-for-bit
    "q_abc" ->
      s"""WITH pr AS (SELECT l_partkey AS p,
         |    sum(cast(l_extendedprice AS DECIMAL(18,2))) AS rev
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT sum(rev) AS total FROM pr),
         |c AS (SELECT p, rev,
         |    sum(rev) OVER (ORDER BY rev DESC, p) AS cum FROM pr)
         |SELECT cls, $CNT AS n_parts, ${d2("rev")} AS revenue
         |FROM (SELECT p, rev,
         |    CASE WHEN cum * 100 <= total * 80 THEN 'A'
         |         WHEN cum * 100 <= total * 95 THEN 'B'
         |         ELSE 'C' END AS cls FROM c, t)
         |GROUP BY cls ORDER BY cls""".stripMargin,

    // market basket: same keyed pair discovery, one integer-ratio
    // lift division rounded 6 dp, total-ordered top 50
    "q_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |np AS (SELECT p, cast(count(*) AS bigint) AS n
        |  FROM li GROUP BY p),
        |t AS (SELECT cast(count(DISTINCT o) AS bigint) AS n_orders
        |  FROM li),
        |pairs AS (SELECT a.p AS pa, b.p AS pb,
        |    cast(count(*) AS bigint) AS n_ab
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2)
        |SELECT pa, pb, n_ab,
        |  round(cast(n_ab * n_orders AS double)
        |    / cast(na.n * nb.n AS double), 6) AS lift
        |FROM pairs
        |JOIN np na ON pairs.pa = na.p
        |JOIN np nb ON pairs.pb = nb.p
        |CROSS JOIN t
        |ORDER BY n_ab DESC, lift DESC, pa, pb LIMIT 50""".stripMargin,

    // copy-on-write DELETE: the post-delete table must equal WHERE NOT
    "q_delete_where" ->
      s"""SELECT event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM events WHERE NOT (event_type = 'error')
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // COW change feed: the delta of a value-doubling UPDATE on click
    // rows — D is the old image, I the new; NULL/0 values are
    // bit-unchanged by doubling and must be absent from both sides
    "q_table_changes" ->
      s"""WITH c AS (SELECT value FROM events
         |  WHERE event_type = 'click'
         |    AND value IS NOT NULL AND value <> 0)
         |SELECT op, n, sv FROM (
         |  SELECT 'D' AS op, $CNT AS n, ${d4("value")} AS sv FROM c
         |  UNION ALL
         |  SELECT 'I' AS op, $CNT AS n,
         |    cast(sum(cast(value * 2 AS DECIMAL(18,4))) AS double)
         |    AS sv FROM c)
         |ORDER BY op""".stripMargin,

    // COW MERGE: the same upsert replayed in SQL — updates win for
    // matched keys, inserts land once, decimal money exact
    "q_merge_cow" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment,
         |    cast(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
         |m AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_custkey % 10 = 0
         |      THEN cast(bal + 100 AS DECIMAL(12,2)) ELSE bal
         |    END AS bal
         |  FROM c
         |  UNION ALL
         |  SELECT 'NEWSEG', cast(1.00 AS DECIMAL(12,2))
         |  FROM c WHERE c_custkey % 7 = 0)
         |SELECT c_mktsegment, $CNT AS n,
         |  cast(sum(cast(bal AS DECIMAL(18,2))) AS double) AS sb
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // time travel: v=0 is the post-DELETE, PRE-update image — the
    // later value-doubling UPDATE must be invisible
    "q_time_travel" ->
      s"""SELECT event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM events WHERE NOT (event_type = 'error')
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // metadata-only ADD COLUMN: flag is non-null exactly where the
    // post-DDL UPDATE touched (click rows), value doubling rides along
    "q_add_column" ->
      s"""SELECT event_type, $CNT AS n,
         |  cast(count(CASE WHEN event_type = 'click' THEN 1 END)
         |    AS bigint) AS nf,
         |  cast(sum(cast(CASE WHEN event_type = 'click' THEN value * 2
         |    ELSE value END AS DECIMAL(18,4))) AS double) AS sv
         |FROM events WHERE NOT (event_type = 'error')
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // OPTIMIZE on the version chain: bin-packing must not change a row
    // OPTIMIZE ZORDER on the chain: content is preserved exactly —
    // the oracle knows nothing about layout
    "q_optimize_zorder" ->
      s"""SELECT cast(l_partkey % 10 AS bigint) AS pk, $CNT AS n,
         |  ${d2("l_quantity")} AS sum_qty,
         |  cast(sum(l_orderkey) AS bigint) AS sum_ok
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_optimize" ->
      s"""SELECT l_linenumber, $CNT AS n, ${d2("l_quantity")} AS sq,
         |  ${d2("l_extendedprice")} AS sp
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // file-skipping: the pruned read must equal the full-scan filter
    "q_file_prune" ->
      s"""SELECT l_partkey, $CNT AS n, ${d2("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE l_partkey >= 50 AND l_partkey < 150
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL CTAS + statement chain: create-from-select, bonus append,
    // signup delete, replayed as filter + union
    "q_sql_ctas" ->
      s"""WITH e AS (SELECT event_id, event_type, value FROM events
         |  WHERE user_id % 4 = 0 AND event_type <> 'error'),
         |m AS (SELECT event_type, value FROM e
         |  WHERE event_type <> 'signup'
         |  UNION ALL
         |  SELECT 'bonus', value FROM e WHERE event_type = 'purchase')
         |SELECT event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL DDL: rename->update-across-mixed-layout->drop, replayed
    "q_sql_ddl" ->
      s"""SELECT event_type, $CNT AS n,
         |  cast(sum(cast(CASE WHEN event_type = 'click' THEN value * 2
         |    ELSE value END AS DECIMAL(18,4))) AS double) AS sa
         |FROM events
         |WHERE NOT (event_type = 'error') AND user_id % 4 = 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // SQL maintenance statements: the DESCRIBE HISTORY result set is
    // the graded artifact (literal op-log oracle)
    "q_sql_maintenance" ->
      """SELECT * FROM (VALUES
        |  (cast(0 AS bigint), 'DELETE', ''),
        |  (cast(1 AS bigint), 'UPDATE', ''),
        |  (cast(2 AS bigint), 'OPTIMIZE', ''),
        |  (cast(3 AS bigint), 'RESTORE', 'v=0')
        |) AS t(version, op, detail)
        |ORDER BY version""".stripMargin,

    // SQL UPDATE + expression-predicate DELETE: click doubling, then
    // drop views with value*3 > 400 (untranslatable to v1 Filters)
    "q_sql_update" ->
      s"""WITH e AS (SELECT event_type, value FROM events
         |  WHERE user_id % 4 = 0 AND event_type <> 'error'),
         |u AS (SELECT event_type,
         |    CASE WHEN event_type = 'click' THEN value * 2
         |      ELSE value END AS value FROM e)
         |SELECT event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM u WHERE NOT (value * 3 > 400 AND event_type = 'view')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL scan file-pruning: the pruned catalog read must equal the
    // full-scan range filter
    "q_sql_prune" ->
      s"""SELECT l_partkey, $CNT AS n, ${d2("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE l_partkey >= 50 AND l_partkey < 150
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL time travel: v0 ignores the later click doubling, head sees it
    "q_sql_time_travel" ->
      s"""WITH e AS (SELECT event_type, value FROM events
         |  WHERE user_id % 4 = 0 AND event_type <> 'error')
         |SELECT 'head' AS snap, event_type, $CNT AS n,
         |  ${d4("CASE WHEN event_type = 'click' THEN value * 2 ELSE value END")} AS sv
         |FROM e GROUP BY 2
         |UNION ALL
         |SELECT 'v0' AS snap, event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM e GROUP BY 2
         |ORDER BY snap, event_type""".stripMargin,

    // REPLACE WHERE: the click slice swapped for doubled values in one
    // commit — the oracle replays it as filter + union
    "q_sql_replace_where" ->
      s"""WITH e AS (SELECT event_type, value FROM events
         |  WHERE user_id % 4 = 0 AND event_type <> 'error'),
         |u AS (
         |  SELECT event_type, value FROM e WHERE event_type <> 'click'
         |  UNION ALL
         |  SELECT event_type, value * 2 FROM e WHERE event_type = 'click')
         |SELECT event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL lifecycle statements: CTAS + constraint + clone-with-DELETE
    // replayed as filters over events; refused INSERT leaves no trace
    "q_sql_lifecycle" ->
      s"""WITH e AS (SELECT event_type, value FROM events
         |  WHERE user_id % 4 = 0 AND event_type <> 'error'),
         |u AS (
         |  SELECT 'src' AS side, event_type, value FROM e
         |  UNION ALL
         |  SELECT 'clone' AS side, event_type, value FROM e
         |  WHERE event_type <> 'signup')
         |SELECT side, event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM u GROUP BY 1, 2 ORDER BY side, event_type""".stripMargin,

    // multi-clause SQL MERGE: conditional delete (s.bal<0), update
    // (bal += s.bal), conditional insert (s.bal>0.5) replayed in SQL
    "q_sql_merge_multi" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment,
         |    cast(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
         |m AS (
         |  SELECT c_mktsegment,
         |    cast(bal + cast(50.00 AS DECIMAL(12,2)) AS DECIMAL(12,2))
         |      AS bal
         |  FROM c WHERE c_custkey % 10 = 0 AND c_custkey % 20 <> 0
         |  UNION ALL
         |  SELECT c_mktsegment, bal FROM c WHERE c_custkey % 10 <> 0
         |  UNION ALL
         |  SELECT 'NEWSEG', cast(1.00 AS DECIMAL(12,2))
         |  FROM c WHERE c_custkey % 14 = 0)
         |SELECT c_mktsegment, $CNT AS n, ${d2("bal")} AS sb
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL TIMESTAMP AS OF: as-of v0's own stamp serves the v0 image
    "q_sql_timestamp_travel" ->
      s"""WITH e AS (SELECT event_type, value FROM events
         |  WHERE user_id % 4 = 0 AND event_type <> 'error')
         |SELECT 'head' AS snap, event_type, $CNT AS n,
         |  ${d4("CASE WHEN event_type = 'click' THEN value * 2 ELSE value END")} AS sv
         |FROM e GROUP BY 2
         |UNION ALL
         |SELECT 'asof' AS snap, event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM e GROUP BY 2
         |ORDER BY snap, event_type""".stripMargin,

    // SQL DELETE + INSERT through the catalog: replayed as filter +
    // union (the INSERT selects from the POST-delete table)
    "q_sql_dml" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment,
         |    cast(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
         |m AS (
         |  SELECT c_custkey, c_mktsegment, bal FROM c
         |  WHERE c_mktsegment <> 'BUILDING'
         |  UNION ALL
         |  SELECT c_custkey + 10000000, 'NEWSEG',
         |    cast(1.00 AS DECIMAL(12,2))
         |  FROM c WHERE c_mktsegment <> 'BUILDING' AND c_custkey % 7 = 0)
         |SELECT c_mktsegment, $CNT AS n,
         |  cast(sum(cast(bal AS DECIMAL(18,2))) AS double) AS sb
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL MERGE INTO: the q_merge_cow upsert, typed as a statement
    "q_sql_merge" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment,
         |    cast(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
         |m AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_custkey % 10 = 0
         |      THEN cast(bal + 100 AS DECIMAL(12,2)) ELSE bal
         |    END AS bal
         |  FROM c
         |  UNION ALL
         |  SELECT 'NEWSEG', cast(1.00 AS DECIMAL(12,2))
         |  FROM c WHERE c_custkey % 7 = 0)
         |SELECT c_mktsegment, $CNT AS n,
         |  cast(sum(cast(bal AS DECIMAL(18,2))) AS double) AS sb
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // streaming CDF: the spooled per-commit manifest diffs replayed
    // in SQL — click +100 (D/I pairs), signup delete (D), view +7
    // SQL TABLE CHANGES statement: identical claim to q_table_changes
    "q_sql_cdf" ->
      s"""WITH c AS (SELECT value FROM events
         |  WHERE event_type = 'click'
         |    AND value IS NOT NULL AND value <> 0)
         |SELECT op, n, sv FROM (
         |  SELECT 'D' AS op, $CNT AS n, ${d4("value")} AS sv FROM c
         |  UNION ALL
         |  SELECT 'I' AS op, $CNT AS n,
         |    cast(sum(cast(value * 2 AS DECIMAL(18,4))) AS double)
         |    AS sv FROM c)
         |ORDER BY op""".stripMargin,

    // format("graft") streaming source: identical claim to the spool
    // path — three per-commit deltas off the same 4-commit chain
    "q_stream_format" ->
      s"""WITH e AS (SELECT event_type, value FROM events
         |  WHERE user_id % 4 = 0 AND event_type <> 'error'),
         |d AS (
         |  SELECT 1 AS version, 'D' AS op, event_type, value
         |  FROM e WHERE event_type = 'click'
         |  UNION ALL SELECT 1, 'I', event_type, value + 100
         |  FROM e WHERE event_type = 'click'
         |  UNION ALL SELECT 2, 'D', event_type, value
         |  FROM e WHERE event_type = 'signup'
         |  UNION ALL SELECT 3, 'D', event_type, value
         |  FROM e WHERE event_type = 'view'
         |  UNION ALL SELECT 3, 'I', event_type, value + 7
         |  FROM e WHERE event_type = 'view')
         |SELECT cast(version AS bigint) AS version, op, event_type,
         |  $CNT AS n, ${d4("value")} AS sv
         |FROM d GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_stream_table_changes" ->
      s"""WITH e AS (SELECT event_type, value FROM events
         |  WHERE user_id % 4 = 0 AND event_type <> 'error'),
         |d AS (
         |  SELECT 1 AS version, 'D' AS op, event_type, value
         |  FROM e WHERE event_type = 'click'
         |  UNION ALL SELECT 1, 'I', event_type, value + 100
         |  FROM e WHERE event_type = 'click'
         |  UNION ALL SELECT 2, 'D', event_type, value
         |  FROM e WHERE event_type = 'signup'
         |  UNION ALL SELECT 3, 'D', event_type, value
         |  FROM e WHERE event_type = 'view'
         |  UNION ALL SELECT 3, 'I', event_type, value + 7
         |  FROM e WHERE event_type = 'view')
         |SELECT cast(version AS bigint) AS version, op, event_type,
         |  $CNT AS n, ${d4("value")} AS sv
         |FROM d GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // partition-valued manifests: metadata-only drop of the error
    // partition + partition-pruned click doubling, replayed in SQL
    "q_partition_dml" ->
      s"""SELECT event_type, $CNT AS n,
         |  cast(sum(cast(CASE WHEN event_type = 'click' THEN value * 2
         |    ELSE value END AS DECIMAL(18,4))) AS double) AS sv
         |FROM events WHERE event_type <> 'error'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // null-membership file skipping: both pruned arms must equal the
    // full-scan predicate split on the derived nullable column
    "q_null_prune" ->
      s"""WITH t AS (SELECT l_linenumber, l_quantity,
         |    CASE WHEN l_linenumber >= 3 THEN l_suppkey END AS late_supp
         |  FROM lineitem)
         |SELECT l_linenumber, $CNT AS n, ${d2("l_quantity")} AS sq,
         |  'null' AS arm FROM t WHERE late_supp IS NULL GROUP BY 1
         |UNION ALL
         |SELECT l_linenumber, $CNT AS n, ${d2("l_quantity")} AS sq,
         |  'notnull' AS arm FROM t WHERE late_supp IS NOT NULL
         |GROUP BY 1
         |ORDER BY arm, l_linenumber""".stripMargin,

    // run-length encoding: gaps-and-islands run ids, two rollups,
    // all integers under the (ts, event_id) total order
    "q_rle" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) IS DISTINCT FROM event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |r AS (SELECT user_id, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM e),
        |runs AS (SELECT user_id, run, event_type,
        |    cast(count(*) AS bigint) AS len
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT event_type, len, cast(count(*) AS bigint) AS n_runs
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // position-based attribution: forward as-of assignment replayed
    // as windowed argmin, credits quantized to DECIMAL(18,9) before
    // the rollup so the sums are exact and order-independent
    "q_attrib_position" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    cast(floor(epoch(ts)) AS bigint) AS t FROM events),
        |tc AS (SELECT event_id, user_id, event_type, t FROM e
        |  WHERE event_type IN ('click', 'view')),
        |pc AS (SELECT user_id, t AS pt, event_id AS pid FROM e
        |  WHERE event_type = 'purchase'),
        |asg AS (SELECT tc.event_id, tc.event_type, tc.t, pc.pid,
        |    row_number() OVER (PARTITION BY tc.event_id
        |      ORDER BY pc.pt, pc.pid) AS rn
        |  FROM tc JOIN pc ON tc.user_id = pc.user_id
        |    AND pc.pt >= tc.t),
        |a AS (SELECT event_id, event_type, t, pid FROM asg
        |  WHERE rn = 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY pid
        |      ORDER BY t, event_id) AS pos,
        |    count(*) OVER (PARTITION BY pid) AS k FROM a),
        |c AS (SELECT event_type,
        |    cast(round(CASE WHEN k = 1 THEN cast(1.0 AS double)
        |      WHEN k = 2 THEN cast(0.5 AS double)
        |      WHEN pos = 1 OR pos = k THEN cast(0.4 AS double)
        |      ELSE cast(0.2 AS double) / cast(k - 2 AS double) END, 9)
        |      AS DECIMAL(18,9)) AS cr
        |  FROM r)
        |SELECT event_type, cast(count(*) AS bigint) AS n_touches,
        |  cast(sum(cr) AS double) AS credit
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // linear interpolation: IGNORE NULLS neighbor windows, identical
    // double op order, rounded 6 dp; deterministic dropout n % 3 = 0
    "q_interpolate" ->
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
         |    $CNT AS n, ${d4("value")} AS sv
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, hour,
         |    cast(floor(epoch(hour)) AS bigint) AS t,
         |    CASE WHEN n % 3 <> 0 THEN sv END AS v FROM h),
         |w AS (SELECT *,
         |    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
         |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING) AS pv,
         |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
         |      OVER (PARTITION BY event_type ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
         |    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type
         |      ORDER BY t ROWS BETWEEN 1 FOLLOWING
         |      AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
         |      OVER (PARTITION BY event_type ORDER BY t
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
         |  FROM m)
         |SELECT event_type, hour,
         |  CASE WHEN v IS NOT NULL THEN 'obs'
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
         |       ELSE 'edge' END AS src,
         |  CASE WHEN v IS NOT NULL THEN round(v, 6)
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |         round(pv + (nv - pv) * ((t - pt) / (nt - pt)), 6)
         |       END AS vi
         |FROM w ORDER BY event_type, hour""".stripMargin,

    // Mann-Whitney U: exact 2x midrank sums in integers, tie-corrected
    // z from an exact hugeint variance numerator, one double division
    "q_mwu" ->
      """WITH o AS (SELECT cast(o_totalprice AS DECIMAL(18,2)) AS p,
        |    cast(floor(epoch(o_orderdate)) AS bigint) AS d
        |  FROM orders),
        |bo AS (SELECT (min(d) + max(d)) // 2 AS mid FROM o),
        |t AS (SELECT p, count(CASE WHEN d < mid THEN 1 END) AS c1,
        |    count(*) AS cnt FROM o, bo GROUP BY p),
        |c AS (SELECT p, c1, cnt,
        |    cast(coalesce(sum(cnt) OVER (ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS bigint) AS cb
        |  FROM t),
        |n AS (SELECT cast(sum(c1) AS bigint) AS n1,
        |    cast(sum(cnt - c1) AS bigint) AS n2,
        |    cast(sum(cnt) AS bigint) AS nn,
        |    cast(sum(cnt*cnt*cnt - cnt) AS bigint) AS ties FROM t),
        |r AS (SELECT cast(sum(c1 * (2*cb + cnt + 1)) AS bigint)
        |    AS r1x2 FROM c)
        |SELECT n.n1, n.n2, r.r1x2,
        |  r.r1x2 - n.n1*(n.n1+1) AS u1x2,
        |  round((cast(r.r1x2 - n.n1*(n.n1+1) AS double)
        |      - cast(n.n1*n.n2 AS double))
        |    / (2.0 * sqrt(cast(cast(n.n1 AS hugeint)*n.n2
        |        *(cast(n.nn AS hugeint)*n.nn*n.nn - n.nn - n.ties)
        |        AS double)
        |      / (12.0 * cast(n.nn AS double)
        |        * cast(n.nn - 1 AS double)))), 6) AS z
        |FROM n, r""".stripMargin,

    // two-sample KS: the max CDF gap as the exact integer
    // |k1*n2 - k2*n1| over pooled distinct values; one normalized
    // division at the end, rounded 6 dp; argmax location = min value
    // achieving the max (total order, deterministic)
    "q_ks_test" ->
      """WITH o AS (SELECT cast(o_totalprice AS DECIMAL(18,2)) AS p,
        |    cast(floor(epoch(o_orderdate)) AS bigint) AS d
        |  FROM orders),
        |bo AS (SELECT (min(d) + max(d)) // 2 AS mid FROM o),
        |t AS (SELECT p,
        |    count(CASE WHEN d < mid THEN 1 END) AS c1,
        |    count(CASE WHEN d >= mid THEN 1 END) AS c2
        |  FROM o, bo GROUP BY p),
        |c AS (SELECT p,
        |    cast(sum(c1) OVER (ORDER BY p) AS bigint) AS k1,
        |    cast(sum(c2) OVER (ORDER BY p) AS bigint) AS k2 FROM t),
        |n AS (SELECT cast(sum(c1) AS bigint) AS n1,
        |    cast(sum(c2) AS bigint) AS n2 FROM t),
        |g AS (SELECT p, abs(k1 * n2 - k2 * n1) AS gap FROM c, n),
        |m AS (SELECT max(gap) AS ks_num FROM g)
        |SELECT n.n1, n.n2, cast(m.ks_num AS bigint) AS ks_num,
        |  round(cast(m.ks_num AS double)
        |    / (cast(n.n1 AS double) * cast(n.n2 AS double)), 6) AS ks,
        |  (SELECT min(g2.p) FROM g g2, m m2
        |    WHERE g2.gap = m2.ks_num) AS at_p
        |FROM n, m""".stripMargin,

    // Benford first-digit audit: leading digit via the decimal's
    // string form (no float digit extraction), counts exact, only the
    // expected share / chi2 term touches log10, rounded 6 dp
    "q_benford" ->
      """WITH d AS (SELECT cast(substr(cast(cast(o_totalprice
        |    AS DECIMAL(18,2)) AS varchar), 1, 1) AS bigint) AS digit
        |  FROM orders),
        |t AS (SELECT cast(count(*) AS double) AS total FROM d)
        |SELECT digit, cast(count(*) AS bigint) AS n,
        |  round(cast(count(*) AS double) / total, 6) AS share,
        |  round(log10(1.0 + 1.0 / digit), 6) AS expected,
        |  round(pow(cast(count(*) AS double)
        |      - total * log10(1.0 + 1.0 / digit), 2)
        |    / (total * log10(1.0 + 1.0 / digit)), 6) AS chi2_contrib
        |FROM d, t GROUP BY digit, total ORDER BY digit""".stripMargin,

    // A/B two-proportion z: same user-grained conversion aggregate,
    // identical double formula order, rounded 6 dp (sqrt is IEEE
    // correctly-rounded in both engines)
    "q_abtest" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN count(CASE WHEN event_type = 'purchase'
        |        THEN 1 END) >= 14 THEN 1 ELSE 0 END AS conv,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |    cast(count(CASE WHEN variant = 0 THEN 1 END) AS bigint)
        |      AS n_a,
        |    cast(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END)
        |      AS bigint) AS conv_a,
        |    cast(count(CASE WHEN variant = 1 THEN 1 END) AS bigint)
        |      AS n_b,
        |    cast(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END)
        |      AS bigint) AS conv_b
        |  FROM u),
        |p AS (SELECT *,
        |    cast(conv_a AS double) / cast(n_a AS double) AS pa,
        |    cast(conv_b AS double) / cast(n_b AS double) AS pb,
        |    (cast(conv_a AS double) + cast(conv_b AS double))
        |      / (cast(n_a AS double) + cast(n_b AS double)) AS pool
        |  FROM a)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
        |  CASE WHEN conv_a = 0 THEN NULL
        |    ELSE round(pb / pa - 1.0, 6) END AS lift,
        |  CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
        |    THEN NULL
        |    ELSE round((pa - pb) / sqrt(pool * (1.0 - pool)
        |      * (1.0 / cast(n_a AS double)
        |        + 1.0 / cast(n_b AS double))), 6) END AS z
        |FROM p""".stripMargin,

    // per-version change feed: all four chunk states, three pairwise
    // diffs unioned with the producing version stamped on each row
    "q_cdc_feed" -> cdcFeedSql,

    // RFM segmentation: ntileExact is spec'd + hash-gated equal to the
    // built-in ntile, so the oracle uses DuckDB's native ntile over
    // the identical (metric, custkey) total orders
    "q_rfm" ->
      s"""WITH base AS (SELECT o_custkey AS cust,
         |    max(o_orderdate) AS rec, $CNT AS freq,
         |    ${d2("o_totalprice")} AS mon
         |  FROM orders GROUP BY 1),
         |sc AS (SELECT mon,
         |    ntile(5) OVER (ORDER BY rec, cust) AS r_score,
         |    ntile(5) OVER (ORDER BY freq, cust) AS f_score,
         |    ntile(5) OVER (ORDER BY mon, cust) AS m_score
         |  FROM base)
         |SELECT cast(r_score AS bigint) AS r_score,
         |  cast(f_score AS bigint) AS f_score,
         |  cast(m_score AS bigint) AS m_score,
         |  $CNT AS n_cust, ${d2("mon")} AS sum_mon
         |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // PSI drift: baseline deciles via native ntile (== ntileExact),
    // both periods binned by the same exact-decimal cutpoint rule,
    // ln rounded to 6 dp on both sides
    "q_drift_psi" ->
      """WITH o AS (SELECT cast(o_totalprice AS DECIMAL(18,2)) AS p,
        |    o_orderkey AS k,
        |    cast(floor(epoch(o_orderdate)) AS bigint) AS d
        |  FROM orders),
        |bo AS (SELECT (min(d) + max(d)) // 2 AS mid FROM o),
        |base AS (SELECT p, k FROM o, bo WHERE d < mid),
        |cur AS (SELECT p, k FROM o, bo WHERE d >= mid),
        |nt AS (SELECT p, ntile(10) OVER (ORDER BY p, k) AS b FROM base),
        |cuts AS (SELECT max(p) AS c FROM nt WHERE b <= 9 GROUP BY b),
        |bb AS (SELECT base.k, 1 + count(cuts.c) AS bin
        |  FROM base LEFT JOIN cuts ON base.p > cuts.c GROUP BY base.k),
        |cb AS (SELECT cur.k, 1 + count(cuts.c) AS bin
        |  FROM cur LEFT JOIN cuts ON cur.p > cuts.c GROUP BY cur.k),
        |pb AS (SELECT bin, count(*) AS base_n FROM bb GROUP BY bin),
        |qb AS (SELECT bin, count(*) AS cur_n FROM cb GROUP BY bin),
        |nn AS (SELECT (SELECT count(*) FROM base) AS nb,
        |    (SELECT count(*) FROM cur) AS nc)
        |SELECT coalesce(pb.bin, qb.bin) AS bin,
        |  coalesce(base_n, 0) AS base_n, coalesce(cur_n, 0) AS cur_n,
        |  CASE WHEN coalesce(base_n, 0) = 0 OR coalesce(cur_n, 0) = 0
        |    THEN NULL
        |    ELSE round((cast(base_n AS double) / nb
        |        - cast(cur_n AS double) / nc)
        |      * ln((cast(base_n AS double) / nb)
        |        / (cast(cur_n AS double) / nc)), 6) END AS contrib
        |FROM pb FULL JOIN qb ON pb.bin = qb.bin, nn
        |ORDER BY bin""".stripMargin,

    // bucketed join: the oracle is the SAME join over the unbucketed
    // parquet — the gate proves bucketing changed the plan, not the
    // answer (the no-Exchange claim is BucketJoinSpec's)
    "q_bucket_join" ->
      s"""SELECT o_orderstatus, ${d2("l_extendedprice")} AS rev,
         |  $CNT AS n
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q3_join" ->
      s"""SELECT o_orderkey, ${xsum(REV)} AS revenue, o_orderdate
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15'
         |  AND l_shipdate > TIMESTAMP '1998-03-15'
         |GROUP BY o_orderkey, o_orderdate
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    // TPC-H Q7 shape: two-nation volume shipping by year + direction
    "q7_volume" ->
      s"""SELECT supp_nation, cust_nation, l_year,
         |  cast(sum(vol) AS double) AS volume
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    cast(year(l_shipdate) AS int) AS l_year, $REV AS vol
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1998-01-01'
         |    AND n1.n_name IN
         |      ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
         |    AND n2.n_name IN
         |      ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
         |    AND n1.n_name <> n2.n_name) x
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // TPC-H Q8 shape: NATION_3's market share of ECONOMY parts sold
    // into ASIA, by order year — exact decimal sums, one division
    "q8_share" ->
      s"""SELECT o_year,
         |  round(cast(sum(CASE WHEN supp_nation = 'NATION_3'
         |      THEN vol ELSE cast(0 AS DECIMAL(25,4)) END) AS double)
         |    / cast(sum(vol) AS double), 6) AS mkt_share
         |FROM (
         |  SELECT cast(year(o_orderdate) AS int) AS o_year, $REV AS vol,
         |    n1.n_name AS supp_nation
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  JOIN region ON n2.n_regionkey = r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
         |    AND o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01') x
         |GROUP BY o_year ORDER BY o_year""".stripMargin,

    // TPC-H Q9 shape: profit (revenue − retail cost, both exact
    // decimal products) on old% parts per supplier nation and year
    "q9_profit" ->
      s"""SELECT n_name AS nation, cast(year(o_orderdate) AS int)
         |    AS o_year,
         |  cast(sum($REV
         |    - cast(p_retailprice AS DECIMAL(12,2))
         |      * cast(l_quantity AS DECIMAL(12,2))) AS double)
         |    AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE 'old%'
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // TPC-H Q10 shape: returned-revenue per customer, top 20 under
    // the (revenue desc, custkey) total order
    "q10_returns" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ${xsum(REV)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-10-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    // TPC-H Q12 shape: priority-class counts over late-shipped lines
    "q12_priority" ->
      """SELECT l_linestatus,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS bigint) AS high_count,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS bigint) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q5_multijoin" ->
      s"""SELECT n_name, ${xsum(REV)} AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_outer_having" ->
      s"""SELECT c_count, $CNT AS custdist FROM (
         |  SELECT c_custkey, cast(count(o_orderkey) as bigint) AS c_count
         |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |  GROUP BY c_custkey) x
         |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_full_outer" ->
      s"""SELECT coalesce(a.k, b.k) AS k, n_big_orders, c_name FROM
         |  (SELECT o_custkey AS k, $CNT AS n_big_orders
         |   FROM orders WHERE o_totalprice > 400000 GROUP BY 1) a
         |FULL OUTER JOIN
         |  (SELECT c_custkey AS k, c_name FROM customer
         |   WHERE c_mktsegment = 'BUILDING') b
         |ON a.k = b.k ORDER BY k""".stripMargin,

    "q_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  cast(rk as bigint) AS rk
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) x
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "q_window_lag" ->
      """SELECT event_id, user_id,
        |  value - lag(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS dv
        |FROM events ORDER BY event_id""".stripMargin,

    // navigation family: total (ts, event_id) order => no peer groups,
    // default running frame and explicit full frame agree cross-engine
    "q_window_nav" ->
      """SELECT event_id, user_id, value,
        |  first_value(value) OVER w AS first_v,
        |  last_value(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS last_v,
        |  nth_value(value, 2) OVER w AS second_v,
        |  lead(value, 1) OVER w AS next_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, $CNT AS n,
         |  ${d2("o_totalprice")} AS total
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST,
         |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, $CNT AS n,
         |  ${d2("o_totalprice")} AS total
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST,
         |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    // explicit grouping sets; gid = grouping(status)*2 + grouping(prio)
    // computed per column (portable across engines' GROUPING_ID forms)
    "q_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, $CNT AS n,
         |  ${d2("o_totalprice")} AS total,
         |  cast(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
         |    AS bigint) AS gid
         |FROM orders GROUP BY GROUPING SETS
         |  ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
         |ORDER BY gid, o_orderstatus ASC NULLS FIRST,
         |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    // dense per-type hourly grid via generate_series over the observed
    // span; zero-filled gaps; carry-forward = last observed (n>0) sv
    // under the total per-type hour order — both engines IGNORE NULLS
    "q_resample" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    cast(count(*) as bigint) AS n,
        |    cast(sum(cast(value AS DECIMAL(18,4))) as double) AS sv
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, unnest(generate_series(h0, h1,
        |    INTERVAL '1 hour')) AS hour
        |  FROM (SELECT event_type,
        |      min(date_trunc('hour', ts)) AS h0,
        |      max(date_trunc('hour', ts)) AS h1
        |    FROM events GROUP BY 1) spans)
        |SELECT g.event_type, g.hour,
        |  coalesce(h.n, 0) AS n,
        |  coalesce(h.sv, 0.0) AS sv,
        |  last_value(CASE WHEN h.n > 0 THEN h.sv END IGNORE NULLS)
        |    OVER (PARTITION BY g.event_type ORDER BY g.hour) AS sv_ff
        |FROM g LEFT JOIN h
        |  ON g.event_type = h.event_type AND g.hour = h.hour
        |ORDER BY 1, 2""".stripMargin,

    // top-5-per-group ordered string aggregation; the rank filter
    // bounds the group payload on both sides
    "q_listagg" ->
      """WITH r AS (SELECT o_orderstatus, o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus, o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |SELECT o_orderstatus, o_orderpriority,
        |  cast(count(*) as bigint) AS n,
        |  string_agg(cast(o_orderkey AS varchar), ',' ORDER BY rnk)
        |    AS top_keys
        |FROM r WHERE rnk <= 5
        |GROUP BY 1, 2 ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    // 3-sigma outliers: per-type mean/sd from decimal-exact moments
    // rounded to 6dp (the q_stats discipline), then the flag and the
    // z-score in identical IEEE double op order
    "q_outliers" ->
      """WITH s AS (
        |  SELECT event_type, cast(count(*) as bigint) AS n,
        |    cast(sum(cast(value AS DECIMAL(12,2))) as double) AS sx,
        |    cast(sum(cast(value AS DECIMAL(12,2))
        |           * cast(value AS DECIMAL(12,2))) as double) AS sxx
        |  FROM events GROUP BY 1),
        |m AS (SELECT event_type,
        |    round(sx / cast(n as double), 6) AS mean,
        |    round(sqrt((sxx - sx * sx / cast(n as double))
        |      / cast(n - 1 as double)), 6) AS sd
        |  FROM s)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - m.mean) / m.sd, 6) AS z
        |FROM events e JOIN m USING (event_type)
        |WHERE abs(e.value - m.mean) > m.sd * 3.0
        |ORDER BY event_id""".stripMargin,

    // perceptual dHash: the oracle recomputes the hash from the
    // closed-form pixel content (PNG lossless) — 72 block means as
    // generated columns, then the 64-bit gradient sum with the sign
    // bit emitted last so partial sums stay in BIGINT range
    "q_image_dhash" ->
      s"""$dhashCte
         |SELECT doc_id, cast(w as bigint) AS width,
         |  cast(h as bigint) AS height, dhash
         |FROM dh ORDER BY doc_id""".stripMargin,

    // perceptual image near-dup pairs: the banding's completeness is
    // checked against a brute quadratic join over the same dhash CTE
    "q_image_neardup" ->
      s"""$dhashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  cast(bit_count(xor(a.dhash, b.dhash)) AS bigint) AS dist
         |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // edit-distance join: brute all-pairs levenshtein over the same
    // distinct-value domain — the prefilter's completeness is what the
    // hash gate checks
    "q_edit_join" ->
      """WITH p AS (SELECT DISTINCT p_name AS s FROM part)
        |SELECT a.s AS name_a, b.s AS name_b,
        |  cast(levenshtein(a.s, b.s) as bigint) AS d
        |FROM p a JOIN p b
        |  ON a.s < b.s AND levenshtein(a.s, b.s) <= 2
        |ORDER BY name_a, name_b""".stripMargin,

    // TWAP: decimal x integer-second mass, one final double division
    "q_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    cast(floor(epoch(ts)) as bigint) AS tsec, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, value,
        |    lead(tsec) OVER (PARTITION BY user_id
        |      ORDER BY tsec, event_id) - tsec AS dt
        |  FROM e)
        |SELECT user_id, cast(count(*) as bigint) AS n_obs,
        |  cast(sum(dt) as bigint) AS total_dt,
        |  cast(sum(cast(value AS DECIMAL(18,4)) * dt) as double)
        |    / cast(sum(dt) as double) AS twap
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // NULL semantics: count(col) skips nulls, GROUP BY collates NULL
    // keys, IS NOT DISTINCT FROM matches NULL to NULL, NULLS FIRST
    // pins the Spark ascending order
    "q_null_semantics" ->
      s"""WITH e AS (
         |  SELECT CASE WHEN user_id % 3 = 0 THEN NULL
         |           ELSE user_id % 3 END AS g,
         |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
         |  FROM events),
         |a AS (
         |  SELECT g, cast(count(*) as bigint) AS n_all,
         |    cast(count(v) as bigint) AS n_v, ${d4("v")} AS sv
         |  FROM e GROUP BY g),
         |d AS (SELECT CAST(NULL AS BIGINT) AS gkey, 1 AS hit
         |  UNION ALL SELECT 1, 1)
         |SELECT a.g, a.n_all, a.n_v, a.sv,
         |  (d.hit IS NOT NULL) AS matched
         |FROM a LEFT JOIN d ON d.gkey IS NOT DISTINCT FROM a.g
         |ORDER BY g NULLS FIRST""".stripMargin,

    // MAD robust outliers: identical interpolation-free order
    // statistics (rank ceil(n/2) under total orders), fixed multiply
    // order (mad*1.4826)*3.0
    "q_mad_outliers" ->
      """WITH s1 AS (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |s2 AS (
        |  SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN value END)
        |      OVER (PARTITION BY event_type) AS med
        |  FROM s1),
        |s3 AS (
        |  SELECT *, abs(value - med) AS dev FROM s2),
        |s4 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY dev, event_id) AS rd
        |  FROM s3),
        |s5 AS (
        |  SELECT *, max(CASE WHEN rd = (n + 1) // 2 THEN dev END)
        |      OVER (PARTITION BY event_type) AS mad
        |  FROM s4)
        |SELECT event_id, event_type, value, med, mad,
        |  round(dev / (mad * 1.4826), 6) AS z_robust
        |FROM s5
        |WHERE mad > 0 AND dev > mad * 1.4826 * 3.0
        |ORDER BY event_id""".stripMargin,

    // HOF kernel: the RELATIONAL route to qHof's array-lambda numbers —
    // window ranks + a rank-reversal self-join instead of
    // transform/zip_with/aggregate. Decimal throughout, so both plans
    // land on bit-equal doubles.
    "q_hof" ->
      """WITH e AS (
        |  SELECT user_id, cast(value AS DECIMAL(18,4)) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |base AS (
        |  SELECT user_id, cast(max(n) as bigint) AS n,
        |    cast(sum(v * 2) as double) AS sum_doubled,
        |    cast(count(*) FILTER (WHERE v > 500) as bigint) AS n_big
        |  FROM e GROUP BY user_id),
        |dot AS (
        |  SELECT a.user_id, cast(sum(a.v * b.v) as double) AS dot_rev
        |  FROM e a JOIN e b
        |    ON b.user_id = a.user_id AND b.rn = a.n + 1 - a.rn
        |  GROUP BY a.user_id)
        |SELECT base.user_id AS user_id, n, sum_doubled, n_big, dot_rev
        |FROM base JOIN dot ON dot.user_id = base.user_id
        |ORDER BY base.user_id""".stripMargin,

    // EWMA: list_reduce seeds from the FIRST element — exactly qEwma's
    // aggregate(slice(vals,2,n-1), vals[1], ...) — and both engines
    // fold the same doubles in the same order through correctly-rounded
    // IEEE ops, so the unrounded doubles hash bit-equal.
    "q_ewma" ->
      """WITH e AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        |  FROM events GROUP BY user_id)
        |SELECT user_id, cast(len(vals) as bigint) AS n_obs,
        |  vals[-1] AS last_v,
        |  list_reduce(vals,
        |    (acc, x) -> acc + (x - acc) * cast(0.25 AS double)) AS ewma
        |FROM e ORDER BY user_id""".stripMargin,

    // cumulative distinct: first-seen-day per (type, user), daily
    // newcomers, running sum — the set-free identity on both sides
    "q_window_distinct" ->
      """WITH fs AS (
        |  SELECT event_type, user_id, min(cast(ts AS date)) AS day
        |  FROM events GROUP BY event_type, user_id),
        |d AS (
        |  SELECT event_type, day, cast(count(*) as bigint) AS n_new
        |  FROM fs GROUP BY event_type, day)
        |SELECT event_type, day, n_new,
        |  cast(sum(n_new) OVER (PARTITION BY event_type ORDER BY day)
        |    as bigint) AS cum_distinct
        |FROM d ORDER BY event_type, day""".stripMargin,

    // range frame: seconds-granularity epoch on both sides (the repo's
    // portable duration idiom), decimal-routed sum. epoch(ts) is a
    // fractional DOUBLE in DuckDB while Spark's unix_timestamp floors to
    // whole seconds — floor here too, or frame membership and peer
    // groups diverge whenever two same-user events share a floored
    // second or a pair straddles the 3600 s boundary fractionally.
    "q_window_range" ->
      """SELECT event_id, user_id, cast(n_1h as bigint) AS n_1h, sv_1h
        |FROM (
        |  SELECT event_id, user_id,
        |    count(*) OVER w AS n_1h,
        |    cast(sum(cast(value AS DECIMAL(18,4))) OVER w AS double)
        |      AS sv_1h
        |  FROM (SELECT event_id, user_id,
        |          cast(floor(epoch(ts)) as bigint) AS tsec, value
        |        FROM events) e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsec
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)) x
        |ORDER BY event_id""".stripMargin,

    // exact moments: decimal sums, closed-form variance in double with
    // the identical operation order as the Spark side
    "q_stats" ->
      """SELECT o_orderstatus, n, round(sx / cast(n as double), 6) AS mean,
        |  round((sxx - sx * sx / cast(n as double)) / cast(n - 1 as double),
        |    2) AS variance,
        |  round(sqrt(round(
        |    (sxx - sx * sx / cast(n as double)) / cast(n - 1 as double),
        |    2)), 6) AS stddev
        |FROM (
        |  SELECT o_orderstatus, cast(count(*) as bigint) AS n,
        |    cast(sum(cast(o_totalprice AS DECIMAL(12,2))) as double) AS sx,
        |    cast(sum(cast(o_totalprice AS DECIMAL(12,2))
        |           * cast(o_totalprice AS DECIMAL(12,2))) as double) AS sxx
        |  FROM orders GROUP BY 1) x
        |ORDER BY o_orderstatus""".stripMargin,

    "q_corr" ->
      """SELECT l_returnflag, n,
        |  round((sxy - sx * sy / cast(n as double)) / cast(n - 1 as double),
        |    4) AS covar,
        |  round(((sxy - sx * sy / cast(n as double)) / cast(n - 1 as double))
        |  / sqrt(
        |    ((sxx - sx * sx / cast(n as double)) / cast(n - 1 as double))
        |    * ((syy - sy * sy / cast(n as double)) / cast(n - 1 as double))),
        |    9) AS corr
        |FROM (
        |  SELECT l_returnflag, cast(count(*) as bigint) AS n,
        |    cast(sum(cast(l_quantity AS DECIMAL(12,2))) as double) AS sx,
        |    cast(sum(cast(l_extendedprice AS DECIMAL(12,2))) as double) AS sy,
        |    cast(sum(cast(l_quantity AS DECIMAL(12,2))
        |           * cast(l_extendedprice AS DECIMAL(12,2))) as double) AS sxy,
        |    cast(sum(cast(l_quantity AS DECIMAL(12,2))
        |           * cast(l_quantity AS DECIMAL(12,2))) as double) AS sxx,
        |    cast(sum(cast(l_extendedprice AS DECIMAL(12,2))
        |           * cast(l_extendedprice AS DECIMAL(12,2))) as double) AS syy
        |  FROM lineitem GROUP BY 1) x
        |ORDER BY l_returnflag""".stripMargin,

    // streaming COW MERGE: four sequential changelog batches — %10
    // keys updated every batch (last one, bal=103, must win), NEWSEG
    // keys inserted by batch 0 then updated to 2.00 by batch 2
    "q_stream_merge_cow" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment,
         |    cast(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
         |m AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_custkey % 10 = 0
         |      THEN cast(103 AS DECIMAL(12,2)) ELSE bal END AS bal
         |  FROM c
         |  UNION ALL
         |  SELECT 'NEWSEG' AS c_mktsegment,
         |    cast(2.00 AS DECIMAL(12,2)) AS bal
         |  FROM c WHERE c_custkey % 7 = 0)
         |SELECT c_mktsegment, $CNT AS n,
         |  cast(sum(cast(bal AS DECIMAL(18,2))) AS double) AS sb
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // CHECK constraints: the rejected error-flip left zero trace, the
    // valid doubling applied — final state replayed from the source
    "q_constraint" ->
      s"""SELECT event_type, $CNT AS n,
         |  cast(sum(cast(CASE WHEN event_type = 'click' THEN value * 2
         |    ELSE value END AS DECIMAL(18,4))) AS double) AS sv
         |FROM events WHERE NOT (event_type = 'error')
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // bloom point-lookup prune == the full-scan equality
    "q_bloom_prune" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
        |ORDER BY l_linenumber, l_partkey""".stripMargin,

    // DESCRIBE HISTORY: the op log is a contract — literal oracle
    "q_history" ->
      """SELECT * FROM (VALUES
        |  (cast(0 AS bigint), 'DELETE', ''),
        |  (cast(1 AS bigint), 'ADD_COLUMN', 'flag'),
        |  (cast(2 AS bigint), 'UPDATE', ''),
        |  (cast(3 AS bigint), 'MERGE', '')
        |) AS t(version, op, detail)
        |ORDER BY version""".stripMargin,

    // shallow clone: src serves the pre-fork state, the clone's
    // doubling applies only to itself — both isolation directions
    "q_clone" ->
      s"""WITH d AS (SELECT event_type, value FROM events
         |  WHERE NOT (event_type = 'error') AND user_id % 4 = 0)
         |SELECT event_type, n, sv, side FROM (
         |  SELECT event_type, $CNT AS n, ${d4("value")} AS sv,
         |    'src' AS side FROM d GROUP BY event_type
         |  UNION ALL
         |  SELECT event_type, $CNT AS n,
         |    cast(sum(cast(CASE WHEN event_type = 'click'
         |      THEN value * 2 ELSE value END AS DECIMAL(18,4)))
         |      AS double) AS sv,
         |    'clone' AS side FROM d GROUP BY event_type)
         |ORDER BY side, event_type""".stripMargin,

    // rename+drop evolution: amount is the renamed value (doubled for
    // clicks by the post-rename UPDATE), user_id gone from the shape
    "q_evolve" ->
      s"""SELECT event_type, $CNT AS n,
         |  cast(sum(cast(CASE WHEN event_type = 'click' THEN value * 2
         |    ELSE value END AS DECIMAL(18,4))) AS double) AS sa
         |FROM events
         |WHERE NOT (event_type = 'error') AND user_id % 4 = 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // RESTORE: the rolled-back head carries no trace of the doubling
    "q_restore" ->
      s"""SELECT event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM events
         |WHERE NOT (event_type = 'error') AND user_id % 4 = 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // chain-maintained stats: the pruned read serves the post-DELETE
    // image ([50,100) gone), so the band query reduces to [100,150)
    "q_chain_prune" ->
      s"""SELECT l_partkey, $CNT AS n, ${d2("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE l_partkey >= 100 AND l_partkey < 150
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Shannon entropy of the per-source language mix: p·ln p terms
    // quantized to DECIMAL(18,6) before the (exact) sum
    "q_entropy" ->
      """WITH c AS (
        |  SELECT source, lang, cast(count(*) as bigint) AS c
        |  FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT source, lang, c,
        |    cast(sum(c) OVER (PARTITION BY source) as bigint) AS n
        |  FROM c)
        |SELECT source, max(n) AS n, cast(count(*) as bigint) AS k,
        |  cast(sum(cast(round((cast(c as double) / cast(n as double))
        |    * ln(cast(c as double) / cast(n as double)), 6)
        |    AS DECIMAL(18,6))) * -1 AS double) AS h
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    // top-N + other: identical total-order rank + relabel + re-agg
    "q_top_other" ->
      """WITH b AS (SELECT o_orderstatus AS status,
        |    o_orderpriority AS prio,
        |    sum(cast(o_totalprice AS DECIMAL(18,2))) AS rev,
        |    count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY status
        |    ORDER BY rev DESC, prio ASC) AS rk FROM b)
        |SELECT status,
        |  CASE WHEN rk <= 2 THEN prio ELSE 'other' END AS bucket,
        |  cast(sum(n) AS bigint) AS n,
        |  cast(sum(rev) AS double) AS rev
        |FROM r GROUP BY 1, 2 ORDER BY status, bucket""".stripMargin,

    // 2-D histogram: integer-exact band x month grid
    "q_hist2d" ->
      """SELECT cast(floor(o_totalprice / 50000) AS bigint) AS band,
        |  cast(month(cast(o_orderdate AS DATE)) AS bigint) AS mon,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS double) AS rev
        |FROM orders GROUP BY 1, 2 ORDER BY band, mon""".stripMargin,

    // exact set-intersection matrix: same bitmask rollup; pairs with
    // zero joint users drop on both sides (inner semantics)
    "q_type_overlap" ->
      """WITH m AS (SELECT user_id, bit_or(CASE event_type
        |      WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
        |      WHEN 'view' THEN 16 ELSE 0 END) AS mask
        |  FROM events GROUP BY user_id),
        |c AS (SELECT mask, count(*) AS n FROM m GROUP BY mask),
        |p(type_a, type_b, need) AS (VALUES
        |  ('click','error',3), ('click','purchase',5),
        |  ('click','signup',9), ('click','view',17),
        |  ('error','purchase',6), ('error','signup',10),
        |  ('error','view',18), ('purchase','signup',12),
        |  ('purchase','view',20), ('signup','view',24))
        |SELECT type_a, type_b, cast(sum(n) AS bigint) AS n_both
        |FROM p JOIN c ON (c.mask & p.need) = p.need
        |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin,

    // DAU/WAU/MAU: the same explode-contribution construction (each
    // active day contributes to the following k days)
    "q_active_users" ->
      """WITH act AS (SELECT DISTINCT user_id, cast(ts AS DATE) AS day
        |  FROM events),
        |w AS (SELECT day, count(*) AS c FROM (
        |  SELECT DISTINCT user_id, day + cast(t.range AS integer) AS day
        |  FROM act CROSS JOIN range(7) t) x GROUP BY day),
        |mm AS (SELECT day, count(*) AS c FROM (
        |  SELECT DISTINCT user_id, day + cast(t.range AS integer) AS day
        |  FROM act CROSS JOIN range(28) t) x GROUP BY day),
        |d AS (SELECT day, count(*) AS dau FROM act GROUP BY day)
        |SELECT d.day, cast(d.dau AS bigint) AS dau,
        |  cast(w.c AS bigint) AS wau, cast(mm.c AS bigint) AS mau
        |FROM d JOIN w USING (day) JOIN mm USING (day)
        |ORDER BY day""".stripMargin,

    // referential-integrity audit: NOT EXISTS per relationship against
    // the mid-load parent snapshot (every 11th key missing); the
    // customer->nation arm runs complete and must be zero
    "q_ri_audit" ->
      """WITH
        |o1 AS (SELECT l_orderkey AS k FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_orderkey % 11 <> 0 AND o.o_orderkey = l.l_orderkey)),
        |o2 AS (SELECT l_partkey AS k FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM part p
        |    WHERE p.p_partkey % 11 <> 0 AND p.p_partkey = l.l_partkey)),
        |o3 AS (SELECT l_suppkey AS k FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |    WHERE s.s_suppkey % 11 <> 0 AND s.s_suppkey = l.l_suppkey)),
        |o4 AS (SELECT o_custkey AS k FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey % 11 <> 0 AND c.c_custkey = o.o_custkey)),
        |o5 AS (SELECT c_nationkey AS k FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM nation n
        |    WHERE n.n_nationkey = c.c_nationkey))
        |SELECT 'lineitem->orders' AS rel,
        |  (SELECT cast(count(*) AS bigint) FROM o1) AS n_orphans,
        |  (SELECT cast(count(DISTINCT k) AS bigint) FROM o1)
        |    AS n_orphan_keys
        |UNION ALL SELECT 'lineitem->part',
        |  (SELECT cast(count(*) AS bigint) FROM o2),
        |  (SELECT cast(count(DISTINCT k) AS bigint) FROM o2)
        |UNION ALL SELECT 'lineitem->supplier',
        |  (SELECT cast(count(*) AS bigint) FROM o3),
        |  (SELECT cast(count(DISTINCT k) AS bigint) FROM o3)
        |UNION ALL SELECT 'orders->customer',
        |  (SELECT cast(count(*) AS bigint) FROM o4),
        |  (SELECT cast(count(DISTINCT k) AS bigint) FROM o4)
        |UNION ALL SELECT 'customer->nation',
        |  (SELECT cast(count(*) AS bigint) FROM o5),
        |  (SELECT cast(count(DISTINCT k) AS bigint) FROM o5)
        |ORDER BY rel""".stripMargin,

    // pairwise series correlation over the FULL hour grid (absent
    // hours are true zeros), exact sums + round(9)
    "q_series_corr" ->
      """WITH c AS (SELECT event_type AS typ, date_trunc('hour', ts) AS h,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |fl AS (SELECT g.h, g.typ, coalesce(c.x, 0) AS x
        |  FROM (SELECT h.h, t.typ
        |    FROM (SELECT DISTINCT h FROM c) h
        |    CROSS JOIN (SELECT DISTINCT typ FROM c) t) g
        |  LEFT JOIN c ON c.h = g.h AND c.typ = g.typ),
        |j AS (SELECT a.typ AS ta, b.typ AS tb, a.x AS xa, b.x AS xb
        |  FROM fl a JOIN fl b ON a.h = b.h AND a.typ < b.typ),
        |g AS (SELECT ta, tb, count(*) AS n, sum(xa) AS sx,
        |    sum(xb) AS sy, sum(xa * xb) AS sxy, sum(xa * xa) AS sxx,
        |    sum(xb * xb) AS syy FROM j GROUP BY 1, 2)
        |SELECT ta, tb, cast(n AS bigint) AS n,
        |  round(cast(n * sxy - sx * sy AS double)
        |    / sqrt(cast(n * sxx - sx * sx AS double)
        |         * cast(n * syy - sy * sy AS double)), 9) AS r
        |FROM g ORDER BY ta, tb""".stripMargin,

    // period-over-period: decimal revenue, EXACT decimal delta before
    // the double cast, one division for the percent
    "q_pop" ->
      """WITH d AS (SELECT cast(o_orderdate AS DATE) AS day,
        |    sum(cast(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT *, lag(rev) OVER (ORDER BY day) AS prev FROM d)
        |SELECT day, cast(rev AS double) AS revenue,
        |  cast(rev - prev AS double) AS delta,
        |  cast(rev - prev AS double) / cast(prev AS double) AS pct_change
        |FROM l ORDER BY day""".stripMargin,

    // equi-depth deciles: ntile over the same TOTAL order (a price
    // tie alone would make bucket membership engine-dependent)
    "q_equidepth" ->
      """SELECT cast(decile AS bigint) AS decile,
        |  cast(count(*) AS bigint) AS n,
        |  cast(min(cast(l_extendedprice AS DECIMAL(12,2))) AS double)
        |    AS lo,
        |  cast(max(cast(l_extendedprice AS DECIMAL(12,2))) AS double)
        |    AS hi,
        |  cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS double)
        |    AS total
        |FROM (SELECT l_extendedprice, ntile(10) OVER (ORDER BY
        |    l_extendedprice, l_orderkey, l_linenumber) AS decile
        |  FROM lineitem) x
        |GROUP BY decile ORDER BY decile""".stripMargin,

    // eventually-follows with absence: two forward IGNORE NULLS
    // windows; purchase-before-error is explicit lexicographic
    // (ts, event_id) comparison on both engines
    "q_pattern_absence" ->
      """WITH t AS (SELECT *,
        |    first_value(CASE WHEN event_type = 'purchase' THEN ts END
        |      IGNORE NULLS) OVER w AS np_ts,
        |    first_value(CASE WHEN event_type = 'purchase'
        |      THEN event_id END IGNORE NULLS) OVER w AS np_id,
        |    first_value(CASE WHEN event_type = 'error' THEN ts END
        |      IGNORE NULLS) OVER w AS ne_ts,
        |    first_value(CASE WHEN event_type = 'error'
        |      THEN event_id END IGNORE NULLS) OVER w AS ne_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id,
        |  cast(count(*) AS bigint) AS n_clean_conversions
        |FROM t WHERE event_type = 'view' AND np_ts IS NOT NULL
        |  AND np_ts <= ts + INTERVAL 86400 SECOND
        |  AND (ne_ts IS NULL OR np_ts < ne_ts
        |    OR (np_ts = ne_ts AND np_id < ne_id))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // CUSUM via the window identity s = r - min(0, running_min r):
    // decimal-exact running sums, no sequential fold
    "q_cusum" ->
      """WITH b AS (SELECT user_id, ts, event_id,
        |    sum(cast(value AS DECIMAL(18,4)) - cast(12.00 AS DECIMAL(18,4)))
        |      OVER w AS r
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (SELECT *, r - least(cast(0 AS DECIMAL(18,4)),
        |    min(r) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
        |  FROM b),
        |a AS (SELECT user_id, cast(count(*) AS bigint) AS n,
        |    cast(sum(CASE WHEN s > 50.00 THEN 1 ELSE 0 END) AS bigint)
        |      AS n_alarms,
        |    round(cast(max(s) AS double), 4) AS peak_cusum
        |  FROM c GROUP BY user_id),
        |f AS (SELECT user_id, round(cast(s AS double), 4) AS final_cusum
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM c) t
        |  WHERE rn = 1)
        |SELECT a.user_id, n, n_alarms, peak_cusum, final_cusum
        |FROM a JOIN f ON f.user_id = a.user_id
        |ORDER BY a.user_id""".stripMargin,

    // runs-vs-median: exact lower-median order statistic, equal
    // values excluded, lag-comparison run count — all integer
    "q_runs" ->
      """WITH c AS (SELECT event_type AS typ, date_trunc('hour', ts) AS h,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |m AS (SELECT typ, x AS med FROM (SELECT *,
        |    row_number() OVER (PARTITION BY typ ORDER BY x, h) AS rk,
        |    count(*) OVER (PARTITION BY typ) AS n FROM c) t
        |  WHERE rk = (n + 1) // 2),
        |sg AS (SELECT c.typ, c.h, m.med,
        |    CASE WHEN c.x > m.med THEN 1 ELSE 0 END AS above
        |  FROM c JOIN m ON m.typ = c.typ WHERE c.x <> m.med),
        |l AS (SELECT *, lag(above) OVER (PARTITION BY typ ORDER BY h)
        |    AS prev FROM sg)
        |SELECT typ, cast(any_value(med) AS bigint) AS med,
        |  cast(sum(above) AS bigint) AS n_above,
        |  cast(sum(1 - above) AS bigint) AS n_below,
        |  cast(sum(CASE WHEN prev IS NULL OR prev <> above
        |    THEN 1 ELSE 0 END) AS bigint) AS n_runs
        |FROM l GROUP BY typ ORDER BY typ""".stripMargin,

    // key-skew audit: exact rank-weighted mass under the total
    // (count, key) order; share + gini from exact integers
    "q_skew_report" ->
      """WITH c AS (SELECT event_type AS typ, user_id, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, cast(row_number() OVER (PARTITION BY typ
        |    ORDER BY cnt ASC, user_id ASC) AS bigint) AS rk FROM c),
        |g AS (SELECT typ, count(*) AS n_keys, sum(cnt) AS n_rows,
        |    max(cnt) AS max_cnt, sum(rk * cnt) AS s_rank
        |  FROM r GROUP BY typ)
        |SELECT typ, cast(n_keys AS bigint) AS n_keys,
        |  cast(n_rows AS bigint) AS n_rows,
        |  cast(max_cnt AS bigint) AS max_cnt,
        |  cast(max_cnt AS double) / cast(n_rows AS double) AS top_share,
        |  cast(s_rank * 2 AS double) / cast(n_keys * n_rows AS double)
        |    - cast(n_keys + 1 AS double) / cast(n_keys AS double) AS gini
        |FROM g ORDER BY typ""".stripMargin,

    // lag-k autocorrelation: exact-bigint sums, double r, round(9)
    // per the q_corr conversion-independence discipline
    "q_autocorr" ->
      """WITH c AS (SELECT event_type AS typ, date_trunc('hour', ts) AS h,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |l AS (SELECT typ, x, lag(x, 1) OVER w AS l1,
        |    lag(x, 2) OVER w AS l2, lag(x, 3) OVER w AS l3
        |  FROM c WINDOW w AS (PARTITION BY typ ORDER BY h)),
        |st AS (SELECT typ, 1 AS lg, x AS xa, l1 AS xb FROM l
        |  UNION ALL SELECT typ, 2, x, l2 FROM l
        |  UNION ALL SELECT typ, 3, x, l3 FROM l),
        |g AS (SELECT typ, lg, count(*) AS n, sum(xa) AS sx,
        |    sum(xb) AS sy, sum(xa * xb) AS sxy, sum(xa * xa) AS sxx,
        |    sum(xb * xb) AS syy
        |  FROM st WHERE xb IS NOT NULL GROUP BY 1, 2)
        |SELECT typ, cast(lg AS bigint) AS lg, cast(n AS bigint) AS n,
        |  round(cast(n * sxy - sx * sy AS double)
        |    / sqrt(cast(n * sxx - sx * sx AS double)
        |         * cast(n * syy - sy * sy AS double)), 9) AS r
        |FROM g ORDER BY typ, lg""".stripMargin,

    // deterministic mode: explicit (count desc, value asc) tie-break
    // rather than the engine's unspecified built-in mode()
    "q_mode" ->
      """WITH c AS (SELECT l_returnflag AS flag,
        |    cast(l_quantity AS bigint) AS qty, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY flag
        |    ORDER BY n DESC, qty ASC) AS rk FROM c)
        |SELECT flag, qty AS mode_qty, cast(n AS bigint) AS mode_n
        |FROM r WHERE rk = 1 ORDER BY flag""".stripMargin,

    // chi2 contingency cells: full grid incl. zero cells; d2 squared
    // in exact bigint before the single cast-and-divide (see #38j)
    "q_chi2" ->
      """WITH c AS (SELECT source, lang, count(*) AS obs
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT s.source, l.lang,
        |    coalesce(c.obs, 0) AS obs
        |  FROM (SELECT DISTINCT source FROM c) s
        |  CROSS JOIN (SELECT DISTINCT lang FROM c) l
        |  LEFT JOIN c ON c.source = s.source AND c.lang = l.lang),
        |t AS (SELECT *,
        |    sum(obs) OVER (PARTITION BY source) AS rt,
        |    sum(obs) OVER (PARTITION BY lang) AS ct,
        |    sum(obs) OVER () AS n FROM grid)
        |SELECT source, lang, cast(obs AS bigint) AS obs,
        |  cast(rt * ct AS double) / cast(n AS double) AS expected,
        |  cast((obs * n - rt * ct) * (obs * n - rt * ct) AS double)
        |    / cast(n * rt * ct AS double) AS contribution
        |FROM t ORDER BY source, lang""".stripMargin,

    // OLS regression: same exact decimal sums as q_corr, closed-form
    // estimators, round(9)
    "q_regression" ->
      """SELECT l_returnflag, n,
        |  round(sxy2 / sxx2, 9) AS slope,
        |  round(sy / cast(n AS double)
        |    - (sxy2 / sxx2) * (sx / cast(n AS double)), 9) AS intercept,
        |  round((sxy2 * sxy2) / (sxx2 * syy2), 9) AS r2
        |FROM (
        |  SELECT *, sxy - sx * sy / cast(n AS double) AS sxy2,
        |    sxx - sx * sx / cast(n AS double) AS sxx2,
        |    syy - sy * sy / cast(n AS double) AS syy2
        |  FROM (
        |    SELECT l_returnflag, cast(count(*) as bigint) AS n,
        |      cast(sum(cast(l_quantity AS DECIMAL(12,2))) as double) AS sx,
        |      cast(sum(cast(l_extendedprice AS DECIMAL(12,2))) as double)
        |        AS sy,
        |      cast(sum(cast(l_quantity AS DECIMAL(12,2))
        |        * cast(l_extendedprice AS DECIMAL(12,2))) as double) AS sxy,
        |      cast(sum(cast(l_quantity AS DECIMAL(12,2))
        |        * cast(l_quantity AS DECIMAL(12,2))) as double) AS sxx,
        |      cast(sum(cast(l_extendedprice AS DECIMAL(12,2))
        |        * cast(l_extendedprice AS DECIMAL(12,2))) as double) AS syy
        |    FROM lineitem GROUP BY 1) a) b
        |ORDER BY l_returnflag""".stripMargin,

    // top behavior paths: two leads over the same total order,
    // top-10 under the total (count desc, path asc) rank
    "q_path_summary" ->
      """WITH l AS (SELECT event_type AS e0,
        |    lead(event_type, 1) OVER w AS e1,
        |    lead(event_type, 2) OVER w AS e2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT e0 || '>' || e1 || '>' || e2 AS path,
        |    count(*) AS n
        |  FROM l WHERE e1 IS NOT NULL AND e2 IS NOT NULL GROUP BY 1),
        |r AS (SELECT *, row_number() OVER
        |    (ORDER BY n DESC, path ASC) AS rk FROM p)
        |SELECT cast(rk AS bigint) AS rk, path, cast(n AS bigint) AS n
        |FROM r WHERE rk <= 10 ORDER BY rk""".stripMargin,

    "q_rank_family" ->
      """SELECT o_orderkey, o_orderstatus,
        |  cast(rnk as bigint) AS rnk, cast(drnk as bigint) AS drnk,
        |  prnk, cast(quartile as bigint) AS quartile
        |FROM (
        |  SELECT o_orderkey, o_orderstatus,
        |    rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |    percent_rank() OVER w AS prnk, ntile(4) OVER w AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey)) x
        |WHERE rnk <= 100 ORDER BY o_orderstatus, rnk, o_orderkey""".stripMargin,

    "q_subquery" ->
      s"""SELECT p_partkey, p_name, p_retailprice FROM part
         |WHERE p_retailprice > (
         |  SELECT ${d2("p_retailprice")} / $CNT FROM part)
         |ORDER BY p_partkey""".stripMargin,

    // correlated EXISTS (Q4 shape): the SAME SQL text the Spark side
    // runs — DuckDB decorrelates it its own way; results must agree
    "q_exists_corr" ->
      """SELECT o_orderpriority, cast(count(*) AS bigint) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_returnflag = 'R'
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // double-correlated EXISTS + NOT EXISTS self-join (Q21 shape)
    "q_exists_double" ->
      """SELECT s_name, cast(count(*) AS bigint) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,

    // FFD packing replayed EXACTLY as a recursive CTE: same decreasing
    // rank order, same first-fit rule, bin loads carried as a list —
    // the hash gate proves the bin-level law, not summary plausibility
    "q_pack_bestfit" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, lang, len($TOKS) AS ntok FROM documents),
         |items AS (
         |  SELECT lang, doc_id, ntok,
         |    cast(row_number() OVER (PARTITION BY lang
         |      ORDER BY ntok DESC, doc_id) AS bigint) AS grn
         |  FROM t WHERE ntok BETWEEN 1 AND 512),
         |sharded AS (
         |  SELECT lang, (grn - 1) // 4096 AS shard,
         |    ((grn - 1) % 4096) + 1 AS rn, doc_id, ntok
         |  FROM items),
         |pack AS (
         |  SELECT lang, shard, cast(0 AS bigint) AS rn,
         |         cast([] AS BIGINT[]) AS loads, cast(0 AS bigint) AS ptok
         |  FROM (SELECT DISTINCT lang, shard FROM sharded)
         |  UNION ALL
         |  SELECT i.lang, i.shard, i.rn,
         |    CASE WHEN idx IS NULL OR idx = 0
         |         THEN list_append(p.loads, i.ntok)
         |         ELSE list_slice(p.loads, 1, idx-1)
         |              || [p.loads[idx] + i.ntok]
         |              || list_slice(p.loads, idx+1, len(p.loads)) END,
         |    p.ptok + i.ntok
         |  FROM pack p
         |  JOIN sharded i ON i.lang = p.lang AND i.shard = p.shard
         |                AND i.rn = p.rn + 1,
         |  LATERAL (SELECT list_position(
         |    list_transform(p.loads, x -> x + i.ntok <= 512), true)
         |    AS idx) l),
         |final AS (
         |  SELECT p.lang, p.shard, p.rn AS n_docs,
         |         cast(len(p.loads) AS bigint) AS n_bins, p.ptok
         |  FROM pack p
         |  JOIN (SELECT lang, shard, max(rn) mr FROM pack
         |        GROUP BY lang, shard) m
         |    ON p.lang = m.lang AND p.shard = m.shard AND p.rn = m.mr),
         |ffd AS (
         |  SELECT lang, cast(sum(n_docs) AS bigint) AS n_docs,
         |         cast(sum(n_bins) AS bigint) AS n_bins,
         |         cast(sum(ptok) AS bigint) AS packed_tokens,
         |         cast(sum(n_bins) * 512 - sum(ptok) AS bigint)
         |           AS ffd_waste
         |  FROM final GROUP BY lang),
         |oversize AS (
         |  SELECT lang, cast(count(*) AS bigint) AS n_oversize
         |  FROM t WHERE ntok > 512 GROUP BY lang),
         |concat_pack AS (
         |  SELECT lang,
         |    cast((sum(ntok) + 511) // 512 * 512 - sum(ntok) AS bigint)
         |      AS concat_waste
         |  FROM t WHERE ntok >= 1 GROUP BY lang)
         |SELECT f.lang, f.n_docs,
         |  coalesce(o.n_oversize, 0) AS n_oversize,
         |  f.n_bins, f.packed_tokens, f.ffd_waste, c.concat_waste,
         |  f.ffd_waste - c.concat_waste AS waste_delta
         |FROM ffd f
         |LEFT JOIN oversize o ON f.lang = o.lang
         |LEFT JOIN concat_pack c ON f.lang = c.lang
         |ORDER BY f.lang""".stripMargin,

    // the auto-salted skew join must equal the plain join: the oracle
    // joins without any salting knowledge
    "q_skew_join" ->
      """SELECT c_mktsegment, cast(count(*) AS bigint) AS n,
        |       cast(sum(cast(value AS DECIMAL(18,4))) AS double) AS sv
        |FROM (SELECT CASE WHEN event_id % 2 = 0 THEN 0
        |             ELSE user_id END AS c_custkey, value
        |      FROM events) f
        |JOIN customer USING (c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // compaction rewrite preserves content EXACTLY: the oracle is the
    // original table itself
    "q_compact" ->
      """SELECT * FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_quantity, l_extendedprice, l_discount, l_tax,
        |  l_returnflag, l_linestatus, l_shipdate""".stripMargin,

    // Q2 shape: correlated scalar MIN with its own join chain — the
    // SAME SQL text the Spark side runs; DuckDB decorrelates its own way
    "q_corr_min" ->
      """SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM part, lineitem, supplier, nation, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND p_size <= 5
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM lineitem l2, supplier s2, nation n2, region r2
        |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,

    // Q11 shape: HAVING vs a global scalar over the same relation
    "q_having_global" ->
      s"""SELECT l_partkey, cast(sum($REV) AS double) AS value
         |FROM lineitem, supplier, nation, region
         |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
         |GROUP BY l_partkey
         |HAVING sum($REV) > (
         |  SELECT 0.001 * sum(cast(l2.l_extendedprice AS DECIMAL(12,2)) *
         |                     cast(1 - l2.l_discount AS DECIMAL(6,2)))
         |  FROM lineitem l2, supplier s2, nation n2, region r2
         |  WHERE l2.l_suppkey = s2.s_suppkey
         |    AND s2.s_nationkey = n2.n_nationkey
         |    AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'ASIA')
         |ORDER BY value DESC, l_partkey""".stripMargin,

    // Q15 shape: aggregate view consumed twice + global MAX equality
    "q_view_max" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no, sum($REV) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name,
         |       cast(total_revenue AS double) AS total_revenue
         |FROM supplier, revenue
         |WHERE s_suppkey = supplier_no
         |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin,

    // Q18 shape: IN over a grouped-HAVING subquery
    "q_in_grouped" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       cast(sum(l_quantity) AS double) AS total_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,

    // Q20 shape: nested IN chain + correlated scalar in the HAVING
    "q_in_chain" ->
      """SELECT s_name, s_acctbal
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |    SELECT lo.l_suppkey FROM lineitem lo
        |    WHERE lo.l_partkey IN (SELECT p_partkey FROM part
        |                           WHERE p_name LIKE 'red%')
        |      AND lo.l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND lo.l_shipdate < TIMESTAMP '1997-01-01'
        |    GROUP BY lo.l_suppkey, lo.l_partkey
        |    HAVING sum(lo.l_quantity) > 0.3 * (
        |      SELECT sum(l2.l_quantity) FROM lineitem l2
        |      WHERE l2.l_partkey = lo.l_partkey
        |        AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
        |  AND s_nationkey = n_nationkey
        |ORDER BY s_name""".stripMargin,

    // Q22 shape: NOT EXISTS + global scalar AVG + substring bucketing
    "q_anti_global" ->
      """SELECT cntrycode, cast(count(*) AS bigint) AS numcust,
        |       cast(sum(cast(c_acctbal AS DECIMAL(18,2))) AS double)
        |         AS totacctbal
        |FROM (
        |  SELECT substr(c_name, 18, 1) AS cntrycode, c_acctbal, c_custkey
        |  FROM customer
        |  WHERE substr(c_name, 18, 1) IN ('0','2','4','6','8')
        |    AND c_acctbal > (
        |      SELECT cast(sum(cast(c_acctbal AS DECIMAL(18,2))) AS double)
        |             / cast(count(*) AS bigint)
        |      FROM customer
        |      WHERE c_acctbal > 0
        |        AND substr(c_name, 18, 1) IN ('0','2','4','6','8'))
        |) cc
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin,

    // Q16 shape: NOT IN blocklist + COUNT(DISTINCT) — same text
    "q_not_in" ->
      """SELECT p_brand, p_type, p_size,
        |       cast(count(DISTINCT l_suppkey) AS bigint) AS supplier_cnt
        |FROM part, lineitem
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#23'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // Q17 shape: correlated scalar AVG over the same fact table
    "q_scalar_avg" ->
      """SELECT cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS double)
        |         / 7.0 AS avg_yearly,
        |       cast(count(*) AS bigint) AS n
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#23'
        |  AND l_quantity < 0.2 * (
        |    SELECT avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    // Q19 shape: the RAW disjunctive text with the equi-key inside each
    // disjunct — DuckDB must factor the common key out of the OR itself;
    // graft states the factored single-equi-join form. Same query.
    "q_disjunct" ->
      s"""SELECT cast(sum($REV) AS double) AS revenue,
         |       cast(count(*) AS bigint) AS n
         |FROM lineitem, part
         |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
         |         AND p_size BETWEEN 1 AND 5
         |         AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
         |         AND p_size BETWEEN 1 AND 10
         |         AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_partkey = l_partkey AND p_brand = 'Brand#34'
         |         AND p_size BETWEEN 1 AND 15
         |         AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q_case_agg" ->
      s"""SELECT 100.0 * cast(sum(CASE WHEN p_type = 'PROMO'
         |    THEN $REV END) AS double)
         |    / ${xsum(REV)} AS promo_share,
         |  $CNT AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
         |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,

    "q_string" ->
      """SELECT o_orderkey, substring(o_orderpriority, 1, 1) AS pclass,
        |  concat_ws('#', o_orderstatus, o_orderpriority) AS tag
        |FROM orders WHERE o_orderpriority LIKE '%URGENT%'
        |ORDER BY o_orderkey""".stripMargin,

    "q_datetime" ->
      s"""SELECT date_trunc('day', ts) AS day, $CNT AS n,
         |  ${d4("value")} AS sv
         |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |      THEN 1 ELSE 0 END AS nf
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts,
        |    sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, cast(sid as bigint) AS sid,
        |  cast(count(*) as bigint) AS n_events,
        |  cast(date_diff('second', min(ts), max(ts)) as bigint) AS dur_s
        |FROM y GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,

    // session_window builtin: islands under the engine's TOUCHING-
    // MERGE rule (an event exactly 1800 s later still extends the
    // session; only strictly greater splits) at microsecond-precision
    // epoch math — q_sessionize's whole-second gap math can differ on
    // sub-second boundaries; session_start = min ts
    "q_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS nf
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts,
        |    sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  cast(count(*) AS bigint) AS n_events
        |FROM y GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // content-defined chunking: the identical rolling polynomial
    // (Σ code(i-j)·31^j, window 8, mod 64) in exact BIGINT math —
    // boundary list -> cut list -> substring chunks -> per-source stats
    "q_cdc_chunk" ->
      """WITH c AS (
        |  SELECT doc_id, source, text,
        |    list_transform(string_split_regex(text, ''),
        |      ch -> cast(ord(ch) AS BIGINT)) AS codes,
        |    len(string_split_regex(text, '')) AS n
        |  FROM documents),
        |b AS (
        |  SELECT *, list_filter(
        |    list_filter(range(8, n + 1), i ->
        |      (codes[i]*1 + codes[i-1]*31 + codes[i-2]*961
        |       + codes[i-3]*29791 + codes[i-4]*923521
        |       + codes[i-5]*28629151 + codes[i-6]*887503681
        |       + codes[i-7]*27512614111) % 64 = 0),
        |    x -> x < n) AS bnd
        |  FROM c),
        |k AS (
        |  SELECT *, list_concat(list_concat([0], bnd), [n]) AS cuts
        |  FROM b),
        |ch AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(cuts)), i ->
        |      text[cuts[i]+1 : cuts[i+1]])) AS chunk
        |  FROM k)
        |SELECT source, cast(count(*) AS bigint) AS chunks,
        |  cast(sum(len(chunk)) AS bigint) AS chars,
        |  cast(count(DISTINCT md5(chunk)) AS bigint) AS uniq_chunks
        |FROM ch GROUP BY source ORDER BY source""".stripMargin,

    // cohort = first active day per user; cell = distinct users active
    // at each day offset 0..7; date math on UTC-truncated days
    "q_cohort" ->
      """WITH a AS (SELECT DISTINCT user_id, cast(ts AS DATE) AS day
        |  FROM events),
        |c AS (SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM a)
        |SELECT cohort_day,
        |  cast(date_diff('day', cohort_day, day) AS bigint) AS "offset",
        |  cast(count(DISTINCT user_id) as bigint) AS n_users
        |FROM c WHERE date_diff('day', cohort_day, day) <= 7
        |GROUP BY 1, 2 ORDER BY cohort_day, "offset"""".stripMargin,

    // interval gaps: the coalesce CTE chain + one lag over islands
    "q_interval_gaps" ->
      """WITH iv AS (SELECT user_id,
        |    cast(floor(epoch(ts)) AS bigint) AS lo,
        |    cast(floor(epoch(ts)) AS bigint) + 300 AS hi, event_id
        |  FROM events),
        |d AS (SELECT *, max(hi) OVER (PARTITION BY user_id
        |    ORDER BY lo, hi, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |g AS (SELECT *, sum(CASE WHEN pm IS NULL OR lo > pm
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY lo, hi, event_id) AS island FROM d),
        |i AS (SELECT user_id, island, min(lo) AS island_lo,
        |    max(hi) AS island_hi FROM g GROUP BY 1, 2),
        |l AS (SELECT user_id, island_lo,
        |    lag(island_hi) OVER (PARTITION BY user_id
        |      ORDER BY island_lo) AS prev_hi FROM i)
        |SELECT user_id, cast(count(*) AS bigint) AS n_gaps,
        |  cast(max(island_lo - prev_hi) AS bigint) AS max_gap_s,
        |  cast(sum(island_lo - prev_hi) AS bigint) AS total_gap_s
        |FROM l WHERE prev_hi IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // peak concurrency: the same +1/-1 sweep under the total
    // (t, delta, event_id) order (closes before opens at an instant)
    "q_peak_concurrency" ->
      """WITH ev AS (SELECT user_id,
        |    cast(floor(epoch(ts)) AS bigint) AS lo,
        |    cast(floor(epoch(ts)) AS bigint) + 300 AS hi, event_id
        |  FROM events),
        |pts AS (SELECT user_id, lo AS t, 1 AS delta, event_id FROM ev
        |  UNION ALL
        |  SELECT user_id, hi, -1, event_id FROM ev),
        |r AS (SELECT user_id, sum(delta) OVER (PARTITION BY user_id
        |    ORDER BY t, delta, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM pts)
        |SELECT user_id, cast(max(open) AS bigint) AS peak_concurrent,
        |  cast(count(*) AS bigint) AS n_points
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Markov transitions: identical lead + row-normalization math
    "q_markov" ->
      """WITH tr AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM tr
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cast(n AS bigint) AS n,
        |  cast(n AS double) / cast(sum(n) OVER
        |    (PARTITION BY from_type) AS double) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // last-touch attribution: two aligned IGNORE NULLS windows replay
    // the (touch ts, touch type) pair; raw-timestamp lookback compare
    "q_attribution" ->
      s"""WITH t AS (SELECT *,
         |    last_value(CASE WHEN event_type IN ('click', 'view')
         |        THEN ts END IGNORE NULLS) OVER w AS lt_ts,
         |    last_value(CASE WHEN event_type IN ('click', 'view')
         |        THEN event_type END IGNORE NULLS) OVER w AS lt_type
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT CASE WHEN lt_ts IS NULL
         |    OR lt_ts < ts - INTERVAL 3600 SECOND THEN 'direct'
         |    ELSE lt_type END AS channel,
         |  $CNT AS n_purchases, ${d4("value")} AS sv
         |FROM t WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY channel""".stripMargin,

    // sequence-pattern count: two leads over the same total order
    "q_pattern" ->
      """WITH l AS (SELECT user_id, ts, event_type,
        |    lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2,
        |    lead(ts, 2) OVER w AS ts2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, cast(count(*) AS bigint) AS n_matches
        |FROM l WHERE event_type = 'view' AND t1 = 'click'
        |  AND t2 = 'purchase' AND ts2 <= ts + INTERVAL 86400 SECOND
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // weighted median: identical pre-agg + cumulative threshold math
    "q_weighted_median" ->
      """WITH g AS (SELECT l_returnflag AS flag,
        |    cast(l_extendedprice AS DECIMAL(12,2)) AS price,
        |    sum(cast(l_quantity AS bigint)) AS wsum
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT flag, price,
        |    sum(wsum) OVER (PARTITION BY flag ORDER BY price) AS cum,
        |    sum(wsum) OVER (PARTITION BY flag) AS tot
        |  FROM g)
        |SELECT flag, cast(min(price) AS double) AS wmedian,
        |  cast(max(tot) AS bigint) AS total_weight
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY flag ORDER BY flag""".stripMargin,

    // time-to-convert: same first-signup/first-purchase contract,
    // exact integer order statistics under the total (d, user) order
    "q_funnel_time" ->
      """WITH conv AS (SELECT user_id,
        |    date_diff('second', smin, pmin) AS d
        |  FROM (SELECT user_id,
        |      min(CASE WHEN event_type = 'signup' THEN ts END) AS smin,
        |      min(CASE WHEN event_type = 'purchase' THEN ts END) AS pmin
        |    FROM events GROUP BY user_id) x
        |  WHERE smin IS NOT NULL AND pmin > smin),
        |r AS (SELECT d,
        |    cast(row_number() OVER (ORDER BY d, user_id) AS bigint) AS rk,
        |    count(*) OVER () AS n FROM conv)
        |SELECT cast(count(*) AS bigint) AS n_converted,
        |  max(CASE WHEN rk = (n + 1) // 2 THEN d END) AS median_s,
        |  max(CASE WHEN rk = (9 * n + 9) // 10 THEN d END) AS p90_s,
        |  max(d) AS max_s
        |FROM r""".stripMargin,

    "q_funnel" ->
      """SELECT cast(count(*) as bigint) AS n_signup,
        |  cast(count(CASE WHEN pmin > smin THEN 1 END) as bigint)
        |    AS n_converted
        |FROM (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS smin,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS pmin
        |  FROM events GROUP BY user_id) x
        |WHERE smin IS NOT NULL""".stripMargin,

    // DuckDB's first-class ASOF LEFT JOIN: an independent
    // implementation of the backward equality-inclusive as-of
    // contract graft.ops.Relational.asofJoin promises
    "q_asof" ->
      """SELECT p.event_id, p.user_id,
        |  cast(date_diff('second', s.ts, p.ts) as bigint)
        |    AS since_signup_s
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events
        |      WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin,

    // record linkage: identical deterministic dirty-twin synthesis,
    // blocking join on the normalized name prefix, integer agreement
    // scores — both engines replay the same rules exactly
    "q_linkage" ->
      """WITH a AS (
        |  SELECT c_custkey AS a_id, c_name, c_acctbal, c_mktsegment,
        |    lower(substr(c_name, 1, 17)) AS blk
        |  FROM customer),
        |b AS (
        |  SELECT c_custkey + 1000000 AS b_id,
        |    CASE WHEN c_custkey % 13 = 0 THEN upper(c_name)
        |         ELSE c_name END AS b_name,
        |    CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 100.0
        |         WHEN c_custkey % 7 = 0 THEN c_acctbal + 0.25
        |         ELSE c_acctbal END AS b_acctbal,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
        |         ELSE c_mktsegment END AS b_mktsegment
        |  FROM customer WHERE c_custkey % 17 <> 0),
        |cand AS (
        |  SELECT a.*, b.*
        |  FROM a JOIN b ON a.blk = lower(substr(b.b_name, 1, 17))),
        |scored AS (
        |  SELECT a_id, b_id,
        |    (CASE WHEN c_name = b_name THEN 2 ELSE 0 END
        |     + CASE WHEN abs(c_acctbal - b_acctbal) <= 0.5 THEN 1
        |            ELSE 0 END
        |     + CASE WHEN c_mktsegment = b_mktsegment THEN 1
        |            ELSE 0 END) AS score
        |  FROM cand)
        |SELECT a_id, b_id, score FROM scored
        |WHERE score >= 2 ORDER BY a_id, b_id""".stripMargin,

    // fuzzy linkage: identical deterministic character corruption,
    // blocking on the corruption-invariant 16-char prefix, DuckDB's
    // native jaro_winkler_similarity (bit-compatible with the Spark
    // expression on ASCII — JaroWinklerSpec pins probed values),
    // rounded to 4 dp so rank order survives last-ulp drift
    "q_jw_linkage" ->
      """WITH a AS (SELECT c_custkey AS a_id, c_name AS a_name,
        |    substr(c_name, 1, 16) AS blk FROM customer),
        |b AS (SELECT c_custkey + 2000000 AS b_id,
        |    CASE WHEN c_custkey % 7 = 0 THEN
        |        substr(c_name, 1, length(c_name) - 2)
        |        || substr(c_name, length(c_name), 1)
        |        || substr(c_name, length(c_name) - 1, 1)
        |      WHEN c_custkey % 5 = 0 THEN
        |        substr(c_name, 1, length(c_name) - 1) || 'X'
        |      WHEN c_custkey % 3 = 0 THEN c_name || 'Q'
        |      ELSE c_name END AS b_name
        |  FROM customer WHERE c_custkey % 17 <> 0),
        |cand AS (SELECT b.b_id, a.a_id,
        |    round(jaro_winkler_similarity(a.a_name, b.b_name), 4) AS sim
        |  FROM b JOIN a ON substr(b.b_name, 1, 16) = a.blk),
        |best AS (SELECT b_id, a_id, sim, row_number() OVER
        |    (PARTITION BY b_id ORDER BY sim DESC, a_id) AS rn FROM cand)
        |SELECT b_id, a_id, sim FROM best WHERE rn = 1 AND sim >= 0.9
        |ORDER BY b_id""".stripMargin,

    // forward as-of with tolerance: windowed argmin over the range-
    // filtered pair set (DuckDB's native ASOF is backward-only)
    "q_asof_fwd" ->
      """WITH s AS (SELECT event_id, user_id,
        |    cast(floor(epoch(ts)) AS bigint) AS tsec
        |  FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, cast(floor(epoch(ts)) AS bigint) AS tsec
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT s.event_id, p.tsec AS pt,
        |    row_number() OVER (PARTITION BY s.event_id
        |      ORDER BY p.tsec) AS rn
        |  FROM s JOIN p ON s.user_id = p.user_id
        |    AND p.tsec >= s.tsec AND p.tsec <= s.tsec + 259200)
        |SELECT s.event_id, s.user_id, c.pt - s.tsec AS wait_s
        |FROM s LEFT JOIN c ON s.event_id = c.event_id AND c.rn = 1
        |ORDER BY s.event_id""".stripMargin,

    // the plain interval-containment θ-join (DuckDB plans it as an
    // IEJoin); the Spark side answers through the binning rewrite —
    // equality of the two IS the gate
    "q_range_join" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        |  cast(count(*) as bigint) AS n_orders,
        |  cast(sum(cast(o.o_totalprice AS DECIMAL(18,2))) AS double)
        |    AS sum_price
        |FROM lineitem l JOIN orders o
        |  ON o.o_orderdate BETWEEN l.l_shipdate
        |    AND l.l_shipdate + (l.l_orderkey % 30 + 1) * INTERVAL 1 DAY
        |WHERE l.l_orderkey % 97 = 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // native WITH RECURSIVE replay of the parent-following walk:
    // independent first-class implementation of the same traversal
    "q_hierarchy" ->
      """WITH RECURSIVE n AS (SELECT c_custkey AS id,
        |    CASE WHEN c_custkey > 0 THEN c_custkey // 7 END AS pid,
        |    cast(cast(c_acctbal AS DECIMAL(12,2)) * 100 AS bigint) AS w
        |  FROM customer),
        |r AS (SELECT id, pid AS cur, 0 AS depth, id AS root_id,
        |    w AS path_sum FROM n
        |  UNION ALL
        |  SELECT r.id, p.pid, r.depth + 1, p.id, r.path_sum + p.w
        |  FROM r JOIN n p ON p.id = r.cur)
        |SELECT id, cast(depth AS bigint) AS depth, root_id,
        |  cast(path_sum AS bigint) AS path_sum
        |FROM r WHERE cur IS NULL ORDER BY id""".stripMargin,

    // naive quadratic radius theta-join over the same exact integer
    // coordinates: gates the 3x3 grid rewrite's completeness and
    // exactly-once pair emission (see #55q)
    "q_geo_join" ->
      """WITH p AS (SELECT c_custkey AS id,
        |    cast(cast(c_acctbal AS DECIMAL(12,2)) * 100 AS bigint) AS x,
        |    (c_custkey * 7919) % 1000000 AS y
        |  FROM customer),
        |pr AS (SELECT a.id AS id_a,
        |    (a.x - b.x) * (a.x - b.x)
        |      + (a.y - b.y) * (a.y - b.y) AS dist2
        |  FROM p a JOIN p b ON a.id < b.id
        |    AND b.x BETWEEN a.x - 10000 AND a.x + 10000
        |    AND b.y BETWEEN a.y - 10000 AND a.y + 10000
        |  WHERE (a.x - b.x) * (a.x - b.x)
        |      + (a.y - b.y) * (a.y - b.y) <= 100000000)
        |SELECT id_a AS c_custkey, cast(count(*) AS bigint) AS n_neighbors,
        |  cast(min(dist2) AS bigint) AS min_d2,
        |  cast(sum(dist2) AS bigint) AS sum_d2
        |FROM pr GROUP BY 1 ORDER BY c_custkey""".stripMargin,

    // naive overlap theta-join twin: gates both completeness and the
    // first-shared-bucket exactly-once rule of the binned plan
    "q_interval_join" ->
      """WITH it AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    datediff('day', DATE '1970-01-01', l_shipdate) AS s_lo,
        |    datediff('day', DATE '1970-01-01', l_shipdate)
        |      + l_partkey % 20 + 3 AS s_hi
        |  FROM lineitem WHERE l_orderkey % 61 = 0),
        |w AS (SELECT cast(i AS bigint) AS wid,
        |    datediff('day', DATE '1970-01-01', DATE '1992-01-01')
        |      + i * 80 AS w_lo,
        |    datediff('day', DATE '1970-01-01', DATE '1992-01-01')
        |      + i * 80 + 45 AS w_hi
        |  FROM range(40) t(i))
        |SELECT wid, cast(count(*) AS bigint) AS n_lines,
        |  cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double)
        |    AS sum_qty
        |FROM it JOIN w ON s_lo <= w_hi AND w_lo <= s_hi
        |GROUP BY wid ORDER BY wid""".stripMargin,

    // DSIR importance selection: the identical log-free ratio score —
    // hashed bigram buckets (60-bit md5 % 64), Laplace-smoothed ratio
    // weights whose doubles are bit-identical (correctly-rounded ops
    // only), quantized to Q20 integers so the per-doc sum is exact
    // integer math (double summation order diverges between engines —
    // Spark windows sum sequentially, DuckDB uses a segment tree)
    "q_dsir" ->
      s"""WITH t AS (SELECT doc_id, lang, source, $TOKS AS toks
         |  FROM documents),
         |b AS (SELECT doc_id, lang, source,
         |    unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS g FROM t),
         |kk AS (SELECT doc_id, lang, source,
         |    ('0x' || substr(md5('dsir#' || g), 1, 15))::UBIGINT::BIGINT
         |      % 64 AS k FROM b),
         |r AS (SELECT k, count(*) AS r FROM kk GROUP BY 1),
         |tg AS (SELECT k, count(*) AS t FROM kk
         |  WHERE source = 'src0' GROUP BY 1),
         |bk AS (SELECT r.k, r.r, coalesce(tg.t, 0) AS t
         |  FROM r LEFT JOIN tg USING (k)),
         |tot AS (SELECT sum(r) AS rtot, sum(t) AS ttot FROM bk),
         |w AS (SELECT k, cast(floor((
         |    (cast(t + 1 AS double) / cast(r + 1 AS double)) *
         |    (cast(rtot + 64 AS double) / cast(ttot + 64 AS double)))
         |    * 1048576.0) AS bigint) AS wq
         |  FROM bk CROSS JOIN tot),
         |c AS (SELECT doc_id, lang, k, count(*) AS c FROM kk
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id, lang,
         |  cast(sum(c * wq) AS double) / 1048576.0 AS score,
         |  cast(sum(c) AS bigint) AS n_bigrams
         |FROM c JOIN w USING (k) GROUP BY 1, 2
         |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,

    "q_percentile" ->
      """SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90,
        |  cast(count(*) as bigint) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // boxplot: native quantile_cont quartiles (the q_percentile
    // cross-implementation gate), then the same broadcast second pass
    // for Tukey whiskers and the outlier count
    "q_boxplot" ->
      """WITH q AS (SELECT o_orderstatus,
        |    quantile_cont(o_totalprice, 0.25) AS q1,
        |    quantile_cont(o_totalprice, 0.5) AS med,
        |    quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1)
        |SELECT b.o_orderstatus, any_value(q1) AS q1, any_value(med) AS med,
        |  any_value(q3) AS q3,
        |  min(CASE WHEN o_totalprice >= q1 - 1.5 * (q3 - q1)
        |    THEN o_totalprice END) AS lo_whisker,
        |  max(CASE WHEN o_totalprice <= q3 + 1.5 * (q3 - q1)
        |    THEN o_totalprice END) AS hi_whisker,
        |  cast(sum(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
        |    OR o_totalprice > q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END)
        |    AS bigint) AS n_outliers,
        |  cast(count(*) AS bigint) AS n
        |FROM orders b JOIN q USING (o_orderstatus)
        |WHERE o_totalprice IS NOT NULL
        |GROUP BY b.o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_histogram" ->
      """SELECT cast(floor(o_totalprice / 50000) as bigint) AS bucket,
        |  cast(count(*) as bigint) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_json" ->
      s"""SELECT cast(regexp_extract(props, '"k": (\\d+)', 1) as bigint) AS k,
         |  $CNT AS n
         |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "q_tokens" ->
      s"""SELECT doc_id, cast(len($TOKS) as bigint) AS n_ws,
         |  cast(len(regexp_extract_all(lower(text),
         |    '${graft.text.TextFunctions.bpeRe}')) as bigint) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality" ->
      s"""SELECT doc_id, len, stop_ratio, punct_ratio, mean_tok,
         |  least(cast(len as double) / 500.0, 1.0) * 0.3
         |    + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.2
         |    + least(mean_tok / 8.0, 1.0) * 0.1 AS score
         |FROM (
         |  SELECT doc_id, cast(length(text) as bigint) AS len,
         |    cast(len(list_filter(toks, x -> x IN $EN)) as double)
         |      / cast(len(toks) as double) AS stop_ratio,
         |    cast(len(regexp_extract_all(lower(text), '$PUNCT')) as double)
         |      / cast(length(text) as double) AS punct_ratio,
         |    cast(length(regexp_replace(text, '$WS', '', 'g')) as double)
         |      / cast(len(toks) as double) AS mean_tok
         |  FROM (SELECT doc_id, text, $TOKS AS toks FROM documents) t) x
         |ORDER BY doc_id""".stripMargin,

    // adaptive per-lang quartile cutoff: the same score expression as
    // q_quality, cutoff = order statistic at rank ceil(n/4) under the
    // total (q, doc_id) order — no interpolation, so cutoffs and the
    // q >= cut comparisons are bit-identical across engines
    "q_quality_filter" ->
      s"""WITH sc AS (SELECT doc_id, lang,
         |    least(cast(len as double) / 500.0, 1.0) * 0.3
         |      + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.2
         |      + least(mean_tok / 8.0, 1.0) * 0.1 AS q
         |  FROM (
         |    SELECT doc_id, lang, cast(length(text) as bigint) AS len,
         |      cast(len(list_filter(toks, x -> x IN $EN)) as double)
         |        / cast(len(toks) as double) AS stop_ratio,
         |      cast(len(regexp_extract_all(lower(text), '$PUNCT')) as double)
         |        / cast(length(text) as double) AS punct_ratio,
         |      cast(length(regexp_replace(text, '$WS', '', 'g')) as double)
         |        / cast(len(toks) as double) AS mean_tok
         |    FROM (SELECT doc_id, lang, text, $TOKS AS toks
         |          FROM documents) t) x),
         |f AS (SELECT * FROM sc WHERE q IS NOT NULL AND NOT isnan(q)),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n FROM f),
         |c AS (SELECT *, max(CASE WHEN rk = cast(ceil(n * 0.25) as bigint)
         |    THEN q END) OVER (PARTITION BY lang) AS cut FROM r)
         |SELECT lang, cast(count(*) as bigint) AS n, max(cut) AS cut,
         |  cast(sum(CASE WHEN q >= cut THEN 1 ELSE 0 END) as bigint)
         |    AS n_kept
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // LM-commonness: per-lang unigram tf model, mean-tf score, ntile
    // bands — integer sums exact, one correctly-rounded division, and
    // the (avg_tf DESC, doc_id) order total, so bands are portable
    "q_lm_score" ->
      s"""WITH t AS (SELECT doc_id, lang, $TOKS AS toks FROM documents),
         |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM t
         |  WHERE len(toks) >= 1),
         |tf AS (SELECT lang, tok, count(*) AS tf FROM tok
         |  GROUP BY lang, tok),
         |d AS (SELECT doc_id, tok.lang AS lang,
         |    cast(count(*) AS bigint) AS n_toks,
         |    cast(sum(tf) AS bigint) AS sum_tf,
         |    cast(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS bigint)
         |      AS n_hapax
         |  FROM tok JOIN tf USING (lang, tok) GROUP BY doc_id, tok.lang),
         |s AS (SELECT *, cast(sum_tf AS double) / cast(n_toks AS double)
         |    AS avg_tf FROM d)
         |SELECT doc_id, lang, n_toks, sum_tf, n_hapax, avg_tf,
         |  cast(ntile(3) OVER (PARTITION BY lang
         |    ORDER BY avg_tf DESC, doc_id) AS bigint) AS band
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_langid" ->
      s"""SELECT doc_id, lang, c_en, c_de, c_fr, c_es,
         |  CASE WHEN c_zh > 0 THEN 'zh'
         |    WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
         |    WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
         |    WHEN c_fr >= c_es THEN 'fr'
         |    ELSE 'es' END AS lang_pred
         |FROM (
         |  SELECT doc_id, lang,
         |    cast(len(list_filter(toks, x -> x IN $EN)) as bigint) AS c_en,
         |    cast(len(list_filter(toks, x -> x IN $DE)) as bigint) AS c_de,
         |    cast(len(list_filter(toks, x -> x IN $FR)) as bigint) AS c_fr,
         |    cast(len(list_filter(toks, x -> x IN $ES)) as bigint) AS c_es,
         |    cast(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]'))
         |      as bigint) AS c_zh
         |  FROM (SELECT doc_id, lang, text, $TOKS AS toks FROM documents) t) x
         |ORDER BY doc_id""".stripMargin,

    // variant extraction: the same nested payload parsed with DuckDB's
    // JSON functions; integer/string fields are exact, so full hash gate
    "q_variant" ->
      """WITH e AS (SELECT
        |  '{"meta":{"t":"' || event_type || '","u":' ||
        |    cast(user_id % 7 as varchar) || '},"arr":[' ||
        |    cast(event_id % 5 as varchar) || ',' ||
        |    cast(user_id % 3 as varchar) || '],"p":' || props || '}' AS j
        |  FROM events),
        |x AS (SELECT
        |  json_extract_string(j, '$.meta.t') AS t,
        |  cast(json_extract(j, '$.meta.u') as bigint) AS u,
        |  cast(json_extract(j, '$.arr[0]') as bigint) AS a0,
        |  cast(json_extract(j, '$.p.k') as bigint) AS k,
        |  try_cast(json_extract_string(j, '$.meta.t') as bigint) AS bad
        |FROM e)
        |SELECT t, cast(count(*) as bigint) AS n,
        |  cast(sum(u) as bigint) AS sum_u,
        |  cast(sum(a0) as bigint) AS sum_a0,
        |  cast(sum(k) as bigint) AS sum_k,
        |  cast(sum(CASE WHEN bad IS NULL THEN 1 ELSE 0 END) as bigint)
        |    AS n_bad
        |FROM x GROUP BY t ORDER BY t""".stripMargin,

    // schema evolution: the merged read == UNION with an explicit NULL
    // column for the old batch
    "q_schema_evolution" ->
      """WITH u AS (
        |  SELECT lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, cast(count(*) as bigint) AS n,
        |  cast(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
        |    as bigint) AS n_missing,
        |  cast(sum(coalesce(n_chars, 0)) as bigint) AS sum_chars
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin,

    // quantile normalization: pure integer rank math — decile =
    // (rank-1)*10 // n under the same (n_chars, doc_id) total order
    "q_quantile_norm" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, cast((rk - 1) * 10 // n as bigint) AS decile,
        |  cast(count(*) as bigint) AS n_docs,
        |  cast(min(n_chars) as bigint) AS lo_chars,
        |  cast(max(n_chars) as bigint) AS hi_chars
        |FROM r GROUP BY lang, (rk - 1) * 10 // n
        |ORDER BY lang, decile""".stripMargin,

    // winsorize: identical integer rank formulas for the p05/p95 order
    // statistics, clamped sum through decimal
    "q_winsorize" ->
      s"""WITH r AS (SELECT event_id, event_type, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value, event_id) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events),
         |c AS (SELECT *,
         |    max(CASE WHEN rn = (n * 5 + 99) // 100 THEN value END)
         |      OVER (PARTITION BY event_type) AS lo,
         |    max(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END)
         |      OVER (PARTITION BY event_type) AS hi
         |  FROM r)
         |SELECT event_type, $CNT AS n,
         |  cast(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
         |    as bigint) AS n_clipped,
         |  max(lo) AS p05, max(hi) AS p95,
         |  ${d4("CASE WHEN value < lo THEN lo WHEN value > hi THEN hi ELSE value END")}
         |    AS wsum
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // OHLC: open/close by rank-1 flags under the same total order
    "q_ohlc" ->
      s"""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS hour,
         |    cast(floor(epoch(ts)) as bigint) AS tsec, event_id, value
         |  FROM events),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY event_type, hour
         |      ORDER BY tsec, event_id) AS rna,
         |    row_number() OVER (PARTITION BY event_type, hour
         |      ORDER BY tsec DESC, event_id DESC) AS rnd
         |  FROM e)
         |SELECT event_type, hour, $CNT AS n,
         |  max(CASE WHEN rna = 1 THEN value END) AS open,
         |  max(CASE WHEN rnd = 1 THEN value END) AS close,
         |  min(value) AS low, max(value) AS high,
         |  ${d4("value")} AS volume
         |FROM r GROUP BY event_type, hour
         |ORDER BY event_type, hour""".stripMargin,

    // text folding: DuckDB's independent strip_accents implementation
    // must agree on canonically-decomposable accents, and both
    // encodings must roundtrip to the plain lowercase original
    "q_fold_text" -> foldTextSql,

    // k-anonymity audit: two plain partial-agg passes
    "q_kanon" ->
      """WITH q AS (SELECT event_type, cast(ts AS date) AS day,
        |    user_id % 100 AS ubkt, count(*) AS cls
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, cast(count(*) as bigint) AS n_classes,
        |  cast(sum(CASE WHEN cls < 5 THEN 1 ELSE 0 END) as bigint)
        |    AS n_small,
        |  cast(sum(CASE WHEN cls < 5 THEN cls ELSE 0 END) as bigint)
        |    AS rows_at_risk
        |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin,

    // unicode-aware dedup: precomposed vs decomposed twins must
    // collapse under nfc_normalize fingerprints and NOT under raw ones
    "q_dedup_unicode" -> dedupUnicodeSql,

    // NFC normalization: DuckDB's nfc_normalize implements the same
    // Unicode algorithm as java.text.Normalizer — the normalized string
    // and its md5 must be byte-identical
    "q_normalize" ->
      s"""WITH r AS (SELECT doc_id,
         |    array_to_string(list_transform(range(0, 10), i ->
         |      substring('abcdefghijklmnopqrstuvwxyz',
         |        cast((doc_id + i) % 26 + 1 as int), 1) ||
         |      substring('${Queries.combiningMarks}',
         |        cast((doc_id * 7 + i) % 9 + 1 as int), 1)), '') AS raw
         |  FROM documents)
        |SELECT doc_id, cast(length(raw) as bigint) AS len_raw,
        |  cast(length(nfc_normalize(raw)) as bigint) AS len_nfc,
        |  nfc_normalize(raw) AS nfc, md5(nfc_normalize(raw)) AS fp
        |FROM r ORDER BY doc_id""".stripMargin,

    // moving median: element ceil(n/2) of the sorted bounded frame —
    // an exact data value under the same (tsec, event_id) total order
    "q_moving_median" ->
      """WITH e AS (SELECT event_id, user_id,
        |    cast(floor(epoch(ts)) as bigint) AS tsec, value FROM events),
        |m AS (SELECT event_id, user_id,
        |    list_sort(list(value) OVER (PARTITION BY user_id
        |      ORDER BY tsec, event_id
        |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) AS sarr
        |  FROM e)
        |SELECT event_id, user_id, cast(len(sarr) as bigint) AS n_win,
        |  sarr[cast((len(sarr) + 1) // 2 as int)] AS med9
        |FROM m ORDER BY event_id""".stripMargin,

    // novelty: same first-occurrence identity (gram-keyed min), same
    // division form
    "q_novelty" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1]))) AS g
         |  FROM t WHERE len(toks) >= 2),
         |f AS (SELECT g, min(doc_id) AS first_doc FROM u GROUP BY g),
         |j AS (SELECT u.doc_id, f.first_doc FROM u JOIN f USING (g))
         |SELECT doc_id, cast(count(*) as bigint) AS n_grams,
         |  cast(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |    as bigint) AS n_novel,
         |  cast(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |      as double)
         |    / cast(count(*) as double) AS novelty
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // one-pass profile: the oracle spells it as per-column passes —
    // same exact numbers, different plan shape (the Spark side's point
    // is that ONE scan carries all 22 aggregates)
    "q_profile" -> profileSql,

    // BM25 with the log-free RSJ odds idf: the identical parse tree as
    // the Spark side (same parenthesization down to the term-sum
    // association), all ops correctly-rounded IEEE double arithmetic
    // on exact integer inputs — unrounded doubles hash bit-equal
    "q_bm25" -> bm25Sql,

    // tf/df division: both operands are small exact integers and both
    // engines' double division is correctly rounded, so scores and
    // ranks are bit-identical (the log-idf form would not be)
    "q_distinctive_terms" ->
      s"""WITH tf AS (SELECT doc_id, term, $CNT AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS term FROM documents) x
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, $CNT AS df FROM tf GROUP BY term),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    cast(tf.tf as double) / cast(df.df as double) AS score,
         |    cast(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY cast(tf.tf as double) / cast(df.df as double) DESC,
         |               tf.term ASC) as bigint) AS rank
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id, term, tf, df, score, rank FROM r
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(trim(regexp_replace(lower(text), '$WS+', ' ', 'g'))) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    // identical synthesis + canonicalization rules; ASCII domain so
    // lower()/list_sort collate identically across engines. The parse
    // is BOUNDED (substr after the first '//' / '?'), not split_part,
    // so a second '//' or '?' inside the query survives intact.
    "q_url_dedup" ->
      s"""WITH syn AS (SELECT doc_id,
         |    $synthUrlSql AS url
         |  FROM documents),
         |c1 AS (SELECT doc_id, split_part(url, '#', 1) AS base FROM syn),
         |c2 AS (SELECT doc_id,
         |    CASE WHEN instr(base, '//') > 0
         |      THEN substr(base, instr(base, '//') + 2) ELSE base END
         |      AS rest
         |  FROM c1),
         |c3 AS (SELECT doc_id, rest,
         |    regexp_extract(rest, '^[^/?]*') AS hostport
         |  FROM c2),
         |c4 AS (SELECT doc_id, substr(rest, length(hostport) + 1) AS pathq0,
         |    lower(hostport) AS host0 FROM c3),
         |c4b AS (SELECT doc_id, host0,
         |    ${pctSql("pathq0")} AS pathq FROM c4),
         |c5 AS (SELECT doc_id, pathq,
         |    CASE WHEN substr(host0, length(host0) - 3) = ':443'
         |      THEN substr(host0, 1, length(host0) - 4)
         |      WHEN substr(host0, length(host0) - 2) = ':80'
         |      THEN substr(host0, 1, length(host0) - 3)
         |      ELSE host0 END
         |      AS host1 FROM c4b),
         |c6 AS (SELECT doc_id, pathq,
         |    regexp_replace(host1, '^(www\\.)+', '') AS host FROM c5),
         |c7 AS (SELECT doc_id, host, split_part(pathq, '?', 1) AS p0,
         |    CASE WHEN contains(pathq, '?')
         |      THEN substr(pathq, instr(pathq, '?') + 1) ELSE '' END
         |      AS qs FROM c6),
         |c8 AS (SELECT doc_id, host,
         |    CASE WHEN rtrim(p0, '/') = '' THEN '/' ELSE rtrim(p0, '/') END
         |      AS cpath,
         |    list_sort(list_filter(string_split(qs, '&'),
         |      x -> x <> '' AND substr(x, 1, 4) <> 'utm_')) AS params
         |  FROM c7),
         |c9 AS (SELECT doc_id, host,
         |    'https://' || host || cpath ||
         |    CASE WHEN len(params) > 0
         |      THEN '?' || array_to_string(params, '&') ELSE '' END AS canon
         |  FROM c8)
         |SELECT canon, host, cast(count(*) AS bigint) AS n_docs,
         |  min(doc_id) AS keep_id
         |FROM c9 GROUP BY canon, host ORDER BY canon""".stripMargin,

    // the composed web pipeline: synthesis + extraction + canon chain
    // + policy predicate + two row_number dedups, assembled from the
    // stage oracles verbatim
    "q_pipeline_web" ->
      s"""WITH syn AS (SELECT doc_id,
         |    $synthUrlSql AS url,
         |    '<!DOCTYPE html><html><head><title>' || source || ' #'
         |      || cast(doc_id AS varchar) || '</title>'
         |      || '<style>p{margin:0}</style><script>var x=1;</script>'
         |      || '</head><body>'
         |      || '<div class="nav"><a href="/home">Home</a> | '
         |      || '<a href="/about">About</a></div>'
         |      || '<h1>' || lang || '</h1><p>' || text || '</p>'
         |      || CASE WHEN doc_id % 2 = 0
         |           THEN '<footer>&copy; 2026 Example &amp; Co.</footer>'
         |           ELSE '' END
         |      || '</body></html>' AS html
         |  FROM documents),
         |ex AS (SELECT doc_id, url,
         |    trim(regexp_replace(
         |      replace(replace(replace(
         |        regexp_replace(regexp_replace(regexp_replace(html,
         |          '<script[^>]*>[^<]*</script>', ' ', 'g'),
         |          '<style[^>]*>[^<]*</style>', ' ', 'g'),
         |          '<[^>]*>', ' ', 'g'),
         |        '&amp;', '&'), '&copy;', '(c)'), '&nbsp;', ' '),
         |      '\\s+', ' ', 'g')) AS clean
         |  FROM syn),
         |c1 AS (SELECT doc_id, clean,
         |    split_part(url, '#', 1) AS base FROM ex),
         |c2 AS (SELECT doc_id, clean,
         |    CASE WHEN instr(base, '//') > 0
         |      THEN substr(base, instr(base, '//') + 2) ELSE base END
         |      AS rest
         |  FROM c1),
         |c3 AS (SELECT doc_id, clean, rest,
         |    regexp_extract(rest, '^[^/?]*') AS hostport FROM c2),
         |c4 AS (SELECT doc_id, clean,
         |    substr(rest, length(hostport) + 1) AS pathq0,
         |    lower(hostport) AS host0 FROM c3),
         |c4b AS (SELECT doc_id, clean, host0,
         |    ${pctSql("pathq0")} AS pathq FROM c4),
         |c5 AS (SELECT doc_id, clean, pathq,
         |    CASE WHEN substr(host0, length(host0) - 3) = ':443'
         |      THEN substr(host0, 1, length(host0) - 4)
         |      WHEN substr(host0, length(host0) - 2) = ':80'
         |      THEN substr(host0, 1, length(host0) - 3)
         |      ELSE host0 END
         |      AS host1 FROM c4b),
         |c6 AS (SELECT doc_id, clean, pathq,
         |    regexp_replace(host1, '^(www\\.)+', '') AS host FROM c5),
         |c7 AS (SELECT doc_id, clean, host,
         |    split_part(pathq, '?', 1) AS p0,
         |    CASE WHEN contains(pathq, '?')
         |      THEN substr(pathq, instr(pathq, '?') + 1) ELSE '' END
         |      AS qs FROM c6),
         |c8 AS (SELECT doc_id, clean, host,
         |    CASE WHEN rtrim(p0, '/') = '' THEN '/' ELSE rtrim(p0, '/') END
         |      AS cpath,
         |    list_sort(list_filter(string_split(qs, '&'),
         |      x -> x <> '' AND substr(x, 1, 4) <> 'utm_')) AS params
         |  FROM c7),
         |c9 AS (SELECT doc_id, clean, host,
         |    'https://' || host || cpath ||
         |    CASE WHEN len(params) > 0
         |      THEN '?' || array_to_string(params, '&') ELSE '' END AS canon
         |  FROM c8),
         |al AS (SELECT * FROM c9 WHERE NOT (host = 'src7.example.com'
         |  OR ends_with(host, '.src7.example.com')
         |  OR host = 'src1.example.com'
         |  OR ends_with(host, '.src1.example.com'))),
         |uk AS (SELECT * FROM (SELECT al.*, row_number() OVER (
         |    PARTITION BY canon ORDER BY doc_id) AS rn FROM al)
         |  WHERE rn = 1),
         |fk AS (SELECT * FROM (SELECT uk.*, row_number() OVER (
         |    PARTITION BY md5(trim(regexp_replace(lower(clean),
         |      '$WS+', ' ', 'g'))) ORDER BY doc_id) AS rn2 FROM uk)
         |  WHERE rn2 = 1),
         |a AS (SELECT host, cast(count(*) AS bigint) AS n_allowed,
         |    cast(count(DISTINCT canon) AS bigint) AS n_urls
         |  FROM al GROUP BY host),
         |k AS (SELECT host, cast(count(*) AS bigint) AS n_kept,
         |    cast(sum(length(clean)) AS bigint) AS sum_clean
         |  FROM fk GROUP BY host)
         |SELECT a.host, n_allowed, n_urls,
         |  cast(coalesce(n_kept, 0) AS bigint) AS n_kept,
         |  cast(coalesce(sum_clean, 0) AS bigint) AS sum_clean
         |FROM a LEFT JOIN k USING (host) ORDER BY host""".stripMargin,

    // same rules restated as literal exact/ends_with predicates — an
    // independent matching strategy from the suffix-chain equi-join
    "q_domain_filter" ->
      """WITH h AS (SELECT doc_id,
        |    lang || '.' || source || '.example.com' AS host
        |  FROM documents)
        |SELECT host,
        |  cast(CASE WHEN host = 'en.src3.example.com'
        |    OR host = 'src7.example.com'
        |    OR ends_with(host, '.src7.example.com')
        |    OR host = 'src1.example.com'
        |    OR ends_with(host, '.src1.example.com')
        |    THEN 1 ELSE 0 END AS bigint) AS blocked,
        |  cast(count(*) AS bigint) AS n_docs
        |FROM h GROUP BY 1, 2 ORDER BY host""".stripMargin,

    // trained top-1000 vocab under the same (count desc, token asc)
    // total order, then per-doc OOV counts via the same left join;
    // post-byte-fallback accounting: an OOV token costs its UTF-8
    // byte count (octet_length), an in-vocab token stays 1
    "q_oov_rate" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
         |cnt AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
         |vocab AS (SELECT tk FROM cnt ORDER BY c DESC, tk LIMIT 1000),
         |per AS (SELECT doc_id, count(*) AS n_toks,
         |    sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS n_oov,
         |    sum(CASE WHEN v.tk IS NULL THEN strlen(tok.tk)
         |      ELSE 0 END) AS n_fallback_bytes
         |  FROM tok LEFT JOIN vocab v USING (tk) GROUP BY doc_id)
         |SELECT doc_id, cast(n_toks AS bigint) AS n_toks,
         |  cast(n_oov AS bigint) AS n_oov,
         |  cast(n_fallback_bytes AS bigint) AS n_fallback_bytes,
         |  cast(n_oov AS double) / cast(n_toks AS double) AS oov_rate,
         |  cast(n_toks - n_oov + n_fallback_bytes AS bigint)
         |    AS n_toks_post,
         |  cast(n_toks - n_oov + n_fallback_bytes AS double)
         |    / cast(n_toks AS double) AS expansion
         |FROM per ORDER BY doc_id""".stripMargin,

    // identical synthesis + RE2-safe strip/decode patterns; replace
    // order matters and is identical on both sides
    "q_html_extract" ->
      """WITH syn AS (SELECT doc_id,
        |    '<!DOCTYPE html><html><head><title>' || source || ' #'
        |      || cast(doc_id AS varchar) || '</title>'
        |      || '<style>p{margin:0}</style><script>var x=1;</script>'
        |      || '</head><body>'
        |      || '<div class="nav"><a href="/home">Home</a> | '
        |      || '<a href="/about">About</a></div>'
        |      || '<h1>' || lang || '</h1><p>' || text || '</p>'
        |      || CASE WHEN doc_id % 2 = 0
        |           THEN '<footer>&copy; 2026 Example &amp; Co.</footer>'
        |           ELSE '' END
        |      || '</body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, html,
        |    trim(regexp_replace(
        |      replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(html,
        |          '<script[^>]*>[^<]*</script>', ' ', 'g'),
        |          '<style[^>]*>[^<]*</style>', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&amp;', '&'), '&copy;', '(c)'), '&nbsp;', ' '),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM syn)
        |SELECT doc_id,
        |  regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
        |  cast(len(regexp_extract_all(html, '<a [^>]*>')) AS bigint)
        |    AS n_links,
        |  cast(length(clean) AS bigint) AS clean_len,
        |  md5(clean) AS clean_fp
        |FROM c ORDER BY doc_id""".stripMargin,

    // identical RE2-safe patterns to TextFunctions.urlRe/emailRe
    "q_scrub" ->
      s"""WITH s AS (SELECT doc_id, text,
         |  trim(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${graft.text.TextFunctions.urlRe}', '<URL>', 'g'),
         |    '${graft.text.TextFunctions.emailRe}', '<EMAIL>', 'g'),
         |    '$WS+', ' ', 'g')) AS clean FROM documents)
         |SELECT doc_id,
         |  cast(len(regexp_extract_all(text,
         |    '${graft.text.TextFunctions.urlRe}')) as bigint)
         |    AS n_urls,
         |  cast(len(regexp_extract_all(text,
         |    '${graft.text.TextFunctions.emailRe}')) as bigint)
         |    AS n_emails,
         |  cast(length(clean) as bigint) AS clean_len,
         |  md5(clean) AS clean_fp
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |g AS (SELECT doc_id, toks, list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1]) AS bg
         |  FROM t WHERE len(toks) >= 2),
         |tt AS (SELECT doc_id, max(c) AS top_tok FROM (
         |    SELECT doc_id, tk, count(*) AS c
         |    FROM (SELECT doc_id, unnest(toks) AS tk FROM g)
         |    GROUP BY doc_id, tk) GROUP BY doc_id),
         |tb AS (SELECT doc_id, max(c) AS top_bg FROM (
         |    SELECT doc_id, b, count(*) AS c
         |    FROM (SELECT doc_id, unnest(bg) AS b FROM g)
         |    GROUP BY doc_id, b) GROUP BY doc_id)
         |SELECT g.doc_id,
         |  cast(len(toks) as bigint) AS n_toks,
         |  1.0 - cast(len(list_distinct(toks)) as double)
         |    / cast(len(toks) as double) AS dup_ratio,
         |  cast(top_tok as double) / cast(len(toks) as double)
         |    AS top_tok_frac,
         |  cast(top_bg as double) / cast(len(bg) as double)
         |    AS top_bigram_frac
         |FROM g JOIN tt ON g.doc_id = tt.doc_id
         |       JOIN tb ON g.doc_id = tb.doc_id
         |ORDER BY g.doc_id""".stripMargin,

    "q_ngram_top" ->
      s"""WITH t AS (SELECT $TOKS AS toks FROM documents),
         |b AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |  FROM t WHERE len(toks) >= 2)
         |SELECT bigram, $CNT AS n FROM b GROUP BY 1
         |ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    // aligned 10-token segments; df = distinct docs containing the
    // segment; drop df>=2, reassemble survivors in position order.
    // string_agg skips the NULL (dropped) branches; the coalesce('')
    // covers a doc whose every segment was boilerplate
    "q_segment_dedup" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |seg AS (SELECT doc_id,
         |    unnest(range(0, (len(toks) + 9) // 10)) AS i,
         |    unnest(list_transform(range(0, (len(toks) + 9) // 10),
         |      i -> array_to_string(toks[i*10+1:i*10+10], ' '))) AS seg
         |  FROM t WHERE len(toks) >= 1),
         |d AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg),
         |a AS (SELECT s.doc_id,
         |    cast(sum(CASE WHEN d.df < 2 THEN 1 ELSE 0 END) AS bigint)
         |      AS kept_segs,
         |    cast(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS bigint)
         |      AS dropped_segs,
         |    coalesce(string_agg(CASE WHEN d.df < 2 THEN s.seg END,
         |      ' ' ORDER BY s.i), '') AS new_text
         |  FROM seg s JOIN d USING (seg) GROUP BY s.doc_id)
         |SELECT doc_id, kept_segs, dropped_segs,
         |  cast(length(new_text) AS bigint) AS new_n_chars,
         |  md5(new_text) AS new_fp
         |FROM a ORDER BY doc_id""".stripMargin,

    // within-doc segment dedup: first-occurrence keep via the same
    // (doc, seg) min-index rule, ordered rebuild fingerprinted
    "q_line_dedup" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |seg AS (SELECT doc_id,
         |    unnest(range(0, (len(toks) + 9) // 10)) AS i,
         |    unnest(list_transform(range(0, (len(toks) + 9) // 10),
         |      i -> array_to_string(toks[i*10+1:i*10+10], ' '))) AS seg
         |  FROM t WHERE len(toks) >= 1),
         |f AS (SELECT *, min(i) OVER (PARTITION BY doc_id, seg) AS min_i
         |  FROM seg)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_segs,
         |  cast(sum(CASE WHEN i = min_i THEN 1 ELSE 0 END) AS bigint)
         |    AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN i = min_i THEN seg END,
         |    ' ' ORDER BY i), '')) AS new_fp
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // W=40 / S=30 token windows; (max(n-40,0)+29)//30 + 1 starts, the
    // final window may be short; chunk content pinned via md5
    "q_chunk" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |n AS (SELECT doc_id, toks,
         |    (greatest(len(toks) - 40, 0) + 29) // 30 + 1 AS nst
         |  FROM t WHERE len(toks) >= 1),
         |c AS (SELECT doc_id, toks, unnest(range(0, nst)) AS ci FROM n),
         |s AS (SELECT doc_id, ci, toks[ci*30+1:ci*30+40] AS ctoks FROM c)
         |SELECT doc_id, cast(ci AS bigint) AS chunk_id,
         |  cast(len(ctoks) AS bigint) AS n_tok,
         |  md5(array_to_string(ctoks, ' ')) AS chunk_fp
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT fp, cast(min(doc_id) as bigint) AS keep_id,
         |  cast(count(*) as bigint) AS n
         |FROM (SELECT doc_id,
         |  md5(trim(regexp_replace(lower(text), '$WS+', ' ', 'g'))) AS fp
         |  FROM documents) x
         |GROUP BY fp ORDER BY keep_id""".stripMargin,

    // Jaccard on STRING shingles where Spark intersects sorted xxhash64
    // hashes — counts agree (same precedent as q_ngram_jaccard); only
    // the exact-rational j values reach the output
    "q_decontam" ->
      s"""WITH t AS (SELECT doc_id, lang, source, $TOKS AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, lang, source,
         |    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
         |      range(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |    END AS sh
         |  FROM t),
         |e AS (SELECT list(sh) AS eshs FROM s
         |  WHERE source = 'src0' AND sh IS NOT NULL),
         |m AS (SELECT doc_id, lang, CASE WHEN sh IS NOT NULL THEN
         |      list_max(list_transform(eshs, x ->
         |        cast(len(list_intersect(sh, x)) as double) /
         |        cast(len(sh) + len(x) - len(list_intersect(sh, x))
         |             as double)))
         |    END AS max_j
         |  FROM s CROSS JOIN e WHERE source <> 'src0')
         |SELECT doc_id, lang, max_j, coalesce(max_j < 0.5, true) AS kept
         |FROM m ORDER BY doc_id""".stripMargin,

    // the exact all-pairs computation again (the prefilter is a pure
    // optimization): max_j surfaced only at/above the 0.5 threshold,
    // which is exactly the set of pairs the LSH prefilter guarantees
    // to recover (recall ≥ 0.999 at J = tau, ~1-1e-39 at the corpus's
    // planted J ≈ 0.97)
    "q_decontam_lsh" ->
      s"""WITH t AS (SELECT doc_id, lang, source, $TOKS AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, lang, source,
         |    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
         |      range(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |    END AS sh
         |  FROM t),
         |e AS (SELECT list(sh) AS eshs FROM s
         |  WHERE source = 'src0' AND sh IS NOT NULL),
         |m AS (SELECT doc_id, lang, CASE WHEN sh IS NOT NULL THEN
         |      list_max(list_transform(eshs, x ->
         |        cast(len(list_intersect(sh, x)) as double) /
         |        cast(len(sh) + len(x) - len(list_intersect(sh, x))
         |             as double)))
         |    END AS max_j
         |  FROM s CROSS JOIN e WHERE source <> 'src0')
         |SELECT doc_id, lang,
         |  CASE WHEN max_j >= 0.5 THEN max_j END AS max_j_hit,
         |  coalesce(max_j < 0.5, true) AS kept
         |FROM m ORDER BY doc_id""".stripMargin,

    // composes the EXACT fragments of q_quality (score), q_dedup_exact
    // (fingerprint keep-first) and q_split (md5 bucket) — bit-stable
    // because every stage is; the per-split stat is integer arithmetic
    "q_pipeline_e2e" ->
      s"""WITH q AS (SELECT doc_id, n_chars, text,
         |    least(cast(length(text) as double) / 500.0, 1.0) * 0.3
         |    + cast(len(list_filter(toks, x -> x IN $EN)) as double)
         |      / cast(len(toks) as double) * 0.4
         |    + (1.0 - cast(len(regexp_extract_all(lower(text), '$PUNCT'))
         |        as double) / cast(length(text) as double)) * 0.2
         |    + least((cast(length(regexp_replace(text, '$WS', '', 'g'))
         |        as double) / cast(len(toks) as double)) / 8.0, 1.0) * 0.1
         |      AS score
         |  FROM (SELECT doc_id, n_chars, text, $TOKS AS toks
         |        FROM documents) t),
         |f AS (SELECT doc_id, n_chars,
         |    md5(trim(regexp_replace(lower(text), '$WS+', ' ', 'g'))) AS fp
         |  FROM q WHERE score >= 0.5),
         |u AS (SELECT doc_id, n_chars FROM (
         |    SELECT doc_id, n_chars,
         |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |    FROM f) r WHERE rn = 1)
         |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
         |    ELSE 'test' END AS split,
         |  cast(count(*) as bigint) AS n,
         |  cast(sum(n_chars) as bigint) AS sum_chars
         |FROM (SELECT n_chars,
         |    ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))
         |      ::UBIGINT::BIGINT % 100 AS b
         |  FROM u) x
         |GROUP BY 1 ORDER BY split""".stripMargin,

    // exact 5-gram overlap decontamination: both sides build per-doc
    // DISTINCT 5-grams (DuckDB range(a,b) is stop-exclusive: positions
    // 1..len-4), so n_hit counts distinct train-doc grams present
    // anywhere in the eval suite
    "q_decontam_ngram" ->
      s"""WITH t AS (SELECT doc_id, lang, source, $TOKS AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, lang, source,
         |    CASE WHEN len(toks) >= 5 THEN list_distinct(list_transform(
         |      range(1, len(toks) - 3),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] ||
         |           ' ' || toks[i+3] || ' ' || toks[i+4]))
         |    ELSE [] END AS gs
         |  FROM t),
         |e AS (SELECT DISTINCT unnest(gs) AS gram FROM g
         |  WHERE source = 'src0'),
         |tr AS (SELECT doc_id, unnest(gs) AS gram FROM g
         |  WHERE source <> 'src0'),
         |h AS (SELECT doc_id, count(*) AS n_hit
         |  FROM tr JOIN e USING (gram) GROUP BY doc_id)
         |SELECT g.doc_id, g.lang,
         |  coalesce(h.n_hit, 0) AS n_hit,
         |  coalesce(h.n_hit, 0) = 0 AS kept
         |FROM g LEFT JOIN h ON g.doc_id = h.doc_id
         |WHERE g.source <> 'src0' ORDER BY g.doc_id""".stripMargin,

    // exact containment C(eval→train) = |A∩B|/|A| >= 0.6 via the
    // inverted-index form (unnest → postings equi-join → shared count);
    // the Spark prefix filter is complete by pigeonhole, so the sets
    // match exactly — same division form both sides (inter/|A| as
    // double >= 0.6), no boundary-rounding asymmetry
    "q_containment" ->
      s"""WITH t AS (SELECT doc_id, source, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, source, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |ev AS (SELECT doc_id AS eval_id, sh FROM s WHERE source = 'src0'),
         |cp AS (SELECT doc_id, sh FROM s WHERE source <> 'src0'),
         |ue AS (SELECT eval_id, unnest(sh) AS g FROM ev),
         |uc AS (SELECT doc_id, unnest(sh) AS g FROM cp),
         |i AS (SELECT eval_id, doc_id, cast(count(*) as double) AS inter
         |  FROM ue JOIN uc USING (g) GROUP BY 1, 2)
         |SELECT i.eval_id AS eval_id, i.doc_id AS doc_id,
         |  i.inter / cast(len(ev.sh) as double) AS containment
         |FROM i JOIN ev ON ev.eval_id = i.eval_id
         |WHERE i.inter / cast(len(ev.sh) as double) >= 0.6
         |ORDER BY eval_id, doc_id""".stripMargin,

    // the bloom sketch is a pure pre-pruning optimization (no false
    // negatives; positives re-verified by the exact anti join), so the
    // oracle is the plain NOT IN against the blocklist fingerprints
    "q_blocklist" ->
      s"""WITH f AS (SELECT doc_id, lang, source, n_chars,
         |    md5(trim(regexp_replace(lower(text), '$WS+', ' ', 'g'))) AS fp
         |  FROM documents)
         |SELECT lang, $CNT AS n_docs, cast(sum(n_chars) as bigint) AS n_chars
         |FROM f WHERE source <> 'src0'
         |  AND fp NOT IN (SELECT fp FROM f WHERE source = 'src0')
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // the streaming blocklist's left_outer + IS NULL is exact anti-join
    // semantics, so its oracle is the same plain NOT IN as q_blocklist's
    "q_stream_blocklist" ->
      s"""WITH f AS (SELECT doc_id, lang, source, n_chars,
         |    md5(trim(regexp_replace(lower(text), '$WS+', ' ', 'g'))) AS fp
         |  FROM documents)
         |SELECT lang, $CNT AS n_docs, cast(sum(n_chars) as bigint) AS n_chars
         |FROM f WHERE source <> 'src0'
         |  AND fp NOT IN (SELECT fp FROM f WHERE source = 'src0')
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // seeded ("s#") md5 bucket, per-lang keep rates — independent of
    // q_split's unseeded bucket by construction
    "q_sample_stratified" ->
      s"""SELECT doc_id, lang FROM (SELECT doc_id, lang,
         |    ('0x' || substr(md5('s#' || cast(doc_id AS varchar)), 1, 15))
         |      ::UBIGINT::BIGINT % 100 AS b
         |  FROM documents) x
         |WHERE b < CASE WHEN lang = 'en' THEN 50
         |           WHEN lang = 'de' THEN 25 ELSE 10 END
         |ORDER BY doc_id""".stripMargin,

    // fixed-size per-stratum sample: rank under the seeded ("k#") md5
    // order, keep rank <= 20 — exactly min(20, n) rows per language
    "q_sample_topk" ->
      s"""SELECT lang, cast(smp_rank AS bigint) AS smp_rank, doc_id
         |FROM (SELECT lang, doc_id, row_number() OVER (
         |    PARTITION BY lang ORDER BY rk, doc_id) AS smp_rank
         |  FROM (SELECT doc_id, lang,
         |      ('0x' || substr(md5('k#' || cast(doc_id AS varchar)), 1, 15))
         |        ::UBIGINT::BIGINT AS rk
         |    FROM documents) x) y
         |WHERE smp_rank <= 20 ORDER BY lang, smp_rank""".stripMargin,

    // token-budget mixture: per-lang md5-("m#")-ranked greedy fill to
    // 5000 tokens; window cumsum order (rk, doc_id) is total, so the
    // kept set is engine-independent
    "q_mixture" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |    len($TOKS) AS ntok,
         |    ('0x' || substr(md5('m#' || cast(doc_id AS varchar)), 1, 15))
         |      ::UBIGINT::BIGINT AS rk
         |  FROM documents),
         |c AS (SELECT doc_id, lang, ntok,
         |    cast(sum(ntok) OVER (PARTITION BY lang ORDER BY rk, doc_id)
         |      AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, lang, ntok, cum_tokens FROM c
         |WHERE cum_tokens <= 5000 ORDER BY lang, doc_id""".stripMargin,

    // temperature mixture (alpha = 1/2): budget_s = floor(B*sqrt(n_s)/S)
    // with S read from a running sum in lang order — sqrt/mul/div all
    // correctly rounded IEEE, so budgets are bit-portable; then the
    // "t#"-seeded greedy cumsum take per lang
    "q_mixture_temp" ->
      s"""WITH t AS (SELECT doc_id, lang, len($TOKS) AS ntok,
         |    ('0x' || substr(md5('t#' || cast(doc_id AS varchar)), 1, 15))
         |      ::UBIGINT::BIGINT AS rk
         |  FROM documents),
         |n AS (SELECT lang, cast(sum(ntok) AS bigint) AS n_tokens
         |  FROM t GROUP BY lang),
         |w AS (SELECT lang, n_tokens,
         |    sqrt(cast(n_tokens AS double)) AS w FROM n),
         |c AS (SELECT *, sum(w) OVER (ORDER BY lang
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM w),
         |b AS (SELECT lang, n_tokens,
         |    cast(floor((20000.0 * w) / max(cum) OVER ()) AS bigint)
         |      AS budget FROM c),
         |k AS (SELECT lang, doc_id, ntok,
         |    sum(ntok) OVER (PARTITION BY lang ORDER BY rk, doc_id)
         |      AS cum_tok FROM t),
         |kk AS (SELECT lang, count(*) AS n_kept, sum(ntok) AS tokens_kept
         |  FROM k JOIN b USING (lang) WHERE cum_tok <= budget
         |  GROUP BY lang)
         |SELECT b.lang, b.n_tokens, b.budget,
         |  cast(coalesce(kk.n_kept, 0) AS bigint) AS n_kept,
         |  cast(coalesce(kk.tokens_kept, 0) AS bigint) AS tokens_kept
         |FROM b LEFT JOIN kk USING (lang) ORDER BY lang""".stripMargin,

    // length-bucketed batching: same bucket/rank/batch math as the
    // Spark side; sum goes through bigint cast (the DuckDB hugeint-sum
    // convention)
    "q_length_batch" ->
      """WITH b AS (SELECT doc_id, n_chars, n_chars // 256 AS bucket
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY bucket ORDER BY doc_id) AS rk FROM b),
        |a AS (SELECT bucket, cast((rk - 1) // 32 AS bigint) AS batch_id,
        |    count(*) AS n_docs, max(n_chars) AS max_len,
        |    sum(n_chars) AS sum_len
        |  FROM r GROUP BY 1, 2)
        |SELECT bucket, batch_id, cast(n_docs AS bigint) AS n_docs,
        |  max_len, cast(sum_len AS bigint) AS sum_len,
        |  cast(max_len * n_docs - sum_len AS bigint) AS padding_waste
        |FROM a ORDER BY bucket, batch_id""".stripMargin,

    // concat-and-chunk packing: "p#"-seeded per-lang order, CTX=512;
    // a doc straddles when its [start, end) span crosses a 512 multiple
    "q_pack" ->
      s"""WITH t AS (SELECT doc_id, lang, len($TOKS) AS ntok,
         |    ('0x' || substr(md5('p#' || cast(doc_id AS varchar)), 1, 15))
         |      ::UBIGINT::BIGINT AS rk
         |  FROM documents),
         |c AS (SELECT doc_id, lang, ntok,
         |    cast(sum(ntok) OVER (PARTITION BY lang ORDER BY rk, doc_id)
         |      AS BIGINT) AS endtok
         |  FROM t WHERE ntok >= 1)
         |SELECT lang, $CNT AS n_docs,
         |  cast(sum(ntok) AS bigint) AS total_tokens,
         |  cast((sum(ntok) + 511) // 512 AS bigint) AS n_seqs,
         |  cast(sum(CASE WHEN (endtok - ntok) // 512 <> (endtok - 1) // 512
         |    THEN 1 ELSE 0 END) AS bigint) AS n_boundary_docs,
         |  cast((sum(ntok) + 511) // 512 * 512 - sum(ntok) AS bigint)
         |    AS tail_pad
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // log-free PMI: score = ((n·N)/ca)/cb with every operand cast to
    // double first and the ops in this exact left-assoc order — the
    // same IEEE sequence Spark runs, so scores are bit-identical
    "q_collocations" ->
      s"""WITH t AS (SELECT $TOKS AS toks FROM documents),
         |p AS (SELECT unnest(toks[1:len(toks)-1]) AS l,
         |             unnest(toks[2:len(toks)]) AS r
         |  FROM t WHERE len(toks) >= 2),
         |cab AS (SELECT l, r, $CNT AS n FROM p GROUP BY l, r),
         |m AS (SELECT l, r, n,
         |    cast(sum(n) OVER (PARTITION BY l) AS bigint) AS ca,
         |    cast(sum(n) OVER (PARTITION BY r) AS bigint) AS cb,
         |    cast(sum(n) OVER () AS bigint) AS nn
         |  FROM cab)
         |SELECT l, r, n, ca, cb,
         |  cast(n AS double) * cast(nn AS double)
         |    / cast(ca AS double) / cast(cb AS double) AS score
         |FROM m WHERE n >= 5
         |ORDER BY score DESC, l, r LIMIT 20""".stripMargin,

    "q_split" ->
      s"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
         |    ELSE 'test' END AS split, lang, $CNT AS n
         |FROM (SELECT lang,
         |    ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))
         |      ::UBIGINT::BIGINT % 100 AS b
         |  FROM documents) x
         |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    // group-aware split: the bucket is a function of user_id, so NO
    // user straddles splits BY CONSTRUCTION (the leakage rule); the
    // oracle recomputes the same seeded bucket
    "q_split_group" ->
      s"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
         |    ELSE 'test' END AS split,
         |  cast(count(DISTINCT user_id) as bigint) AS n_users,
         |  $CNT AS n_events, ${d4("value")} AS sv
         |FROM (SELECT user_id, value,
         |    ('0x' || substr(md5('g#' || cast(user_id AS varchar)), 1, 15))
         |      ::UBIGINT::BIGINT % 100 AS b
         |  FROM events) x
         |GROUP BY 1 ORDER BY split""".stripMargin,

    "q_winnow" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |h AS (SELECT doc_id, list_transform(toks,
         |    t -> ('0x' || substr(md5('0#' || t), 1, 15))::UBIGINT::BIGINT)
         |    AS hs
         |  FROM t WHERE len(toks) >= 4),
         |wi AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(hs) - 2),
         |    i -> list_min(hs[i:i+3]))) AS fps FROM h)
         |SELECT doc_id, unnest(fps) AS fp FROM wi
         |ORDER BY doc_id, fp""".stripMargin,

    // exact J via the inverted-index form, not an all-pairs
    // list_intersect: a pair with J > 0 shares >= 1 shingle, so
    // equi-joining the unnested shingle postings and counting shared
    // shingles per pair computes the IDENTICAL result (verified
    // bit-equal to the quadratic form at sf0.1) in near-linear time —
    // 4.8 s vs 468 s measured; this is what keeps the full-sweep
    // oracle pass tractable
    "q_dedup_minhash" -> exactJaccardPairsSql,

    "q_dedup_incr" -> incrementalPairsSql,

    // the exact prefix-filtered similarity join computes the same
    // J >= 0.8 pair set — by theorem rather than by banding luck
    "q_jaccard_join" -> exactJaccardPairsSql,

    // incremental artifact maintenance must equal the full rebuild:
    // its oracle IS the full exact pair-set SQL
    "q_graph_incr" -> exactJaccardPairsSql,

    // ExactSubstr span removal: k=8 windows duplicated across >= 2
    // docs, merged per doc (gaps-and-islands), covered tokens dropped,
    // remainder reassembled in order; fully-covered docs → ''
    "q_substr_dedup" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |g AS (SELECT doc_id, i AS s, array_to_string(toks[i:i+7], ' ') AS g
         |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
         |  WHERE len(toks) >= 8),
         |d AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) > 1),
         |iv AS (SELECT doc_id, s, s + 7 AS e FROM g JOIN d USING (g)),
         |m AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
         |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    AS pm FROM iv),
         |isl AS (SELECT doc_id, s, e,
         |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s, e
         |            ROWS UNBOUNDED PRECEDING) AS grp FROM m),
         |sp AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl
         |  GROUP BY doc_id, grp),
         |nd AS (SELECT doc_id, sum(e - s + 1) AS n_dup FROM sp GROUP BY doc_id),
         |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp),
         |tok AS (SELECT doc_id, i AS pos, toks[i] AS tok
         |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
         |  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
         |  WHERE cov.pos IS NULL),
         |ct AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, cast(len(t.toks) AS bigint) AS n_toks,
         |  cast(coalesce(nd.n_dup, 0) AS bigint) AS n_dup,
         |  CASE WHEN coalesce(nd.n_dup, 0) = len(t.toks) THEN ''
         |       ELSE coalesce(ct.ct, array_to_string(t.toks, ' ')) END
         |    AS clean_text
         |FROM t LEFT JOIN nd ON t.doc_id = nd.doc_id
         |       LEFT JOIN ct ON t.doc_id = ct.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // streaming near-dup's batch twin: SAME banding (8 bands x 2 rows
    // of the portable md5 sig) + SAME verify rule (n_match >= 12) as
    // the Spark side — the oracle replays the operator's contract, so
    // no recall exposure rides on this gate
    "q_stream_neardup" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |g AS (SELECT doc_id, list_transform(range(0, 16),
         |    i -> list_min(list_transform(sh, x ->
         |      ('0x' || substr(md5(cast(i AS varchar) || '#' || x), 1, 15))
         |        ::UBIGINT::BIGINT))) AS sig
         |  FROM s),
         |bd AS (SELECT doc_id, sig,
         |    cast(b AS varchar) || ',' || cast(sig[b*2+1] AS varchar)
         |      || ',' || cast(sig[b*2+2] AS varchar) AS bkt
         |  FROM g, unnest(range(0, 8)) AS u(b)),
         |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bd a JOIN bd b ON a.bkt = b.bkt AND a.doc_id < b.doc_id),
         |q AS (SELECT p.doc_a, p.doc_b,
         |    cast(len(list_filter(range(1, 17),
         |      i -> ga.sig[i] = gb.sig[i])) AS bigint) AS n_match
         |  FROM p
         |  JOIN g ga ON ga.doc_id = p.doc_a
         |  JOIN g gb ON gb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, n_match,
         |  cast(n_match AS double) / 16.0 AS j_est
         |FROM q WHERE n_match >= 12 ORDER BY doc_a, doc_b""".stripMargin,

    // the portable k=16 seeded-md5 minhash signature (the q_winnow hash
    // idiom, seeds 0..15): signature, match count and J-hat = cnt/16
    // are all bit-identical to the Spark side; pairs = the exact
    // J >= 0.8 set, which the Spark side now also enumerates exactly
    // (jaccardJoin prefix filter) — no banding-miss exposure here
    "q_jaccard_est" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(count(*) as double) AS inter
         |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b,
         |    inter / (len(sa.sh) + len(sb.sh) - inter) AS j
         |  FROM i JOIN s sa ON sa.doc_id = i.doc_a
         |         JOIN s sb ON sb.doc_id = i.doc_b),
         |pp AS (SELECT * FROM p WHERE j >= 0.8),
         |ids AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_a AS doc_id FROM pp
         |  UNION ALL SELECT doc_b FROM pp) u),
         |g AS (SELECT s.doc_id, list_transform(range(0, 16),
         |    i -> list_min(list_transform(s.sh, x ->
         |      ('0x' || substr(md5(cast(i AS varchar) || '#' || x), 1, 15))
         |        ::UBIGINT::BIGINT))) AS sig
         |  FROM s JOIN ids USING (doc_id)),
         |q AS (SELECT pp.doc_a, pp.doc_b, pp.j,
         |    cast(len(list_filter(range(1, 17),
         |      i -> ga.sig[i] = gb.sig[i])) AS bigint) AS n_match
         |  FROM pp
         |  JOIN g ga ON ga.doc_id = pp.doc_a
         |  JOIN g gb ON gb.doc_id = pp.doc_b)
         |SELECT doc_a, doc_b, j, n_match,
         |  cast(n_match AS double) / 16.0 AS j_est
         |FROM q ORDER BY doc_a, doc_b""".stripMargin,

    // connected components of the same J>=0.8 pair graph: transitive
    // closure by recursive CTE (UNION dedups, so it terminates), then
    // component id = min reachable id (incl. self) — the same canonical
    // label the distributed min-propagation fixpoint converges to
    "q_pagerank" -> pageRankSql,

    "q_dedup_cluster" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(count(*) as double) AS inter
         |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b FROM i
         |  JOIN s sa ON sa.doc_id = i.doc_a
         |  JOIN s sb ON sb.doc_id = i.doc_b
         |  WHERE inter / (len(sa.sh) + len(sb.sh) - inter) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |r AS (SELECT src AS id, dst AS reach FROM e
         |  UNION
         |  SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src)
         |SELECT id AS doc_id, least(id, min(reach)) AS comp
         |FROM r GROUP BY id ORDER BY doc_id""".stripMargin,

    // corpus report: same six aggregates, tall (metric, value) shape
    "q_corpus_report" ->
      s"""WITH a AS (SELECT cast(count(*) AS bigint) AS n_docs,
         |    cast(sum(len($TOKS)) AS bigint) AS n_tokens,
         |    cast(sum(n_chars) AS bigint) AS n_chars,
         |    cast(count(DISTINCT lang) AS bigint) AS n_langs,
         |    cast(count(DISTINCT source) AS bigint) AS n_sources,
         |    cast(count(*) - count(DISTINCT md5(text)) AS bigint)
         |      AS n_exact_dups
         |  FROM documents)
         |SELECT 'n_chars' AS metric, n_chars AS value FROM a
         |UNION ALL SELECT 'n_docs', n_docs FROM a
         |UNION ALL SELECT 'n_exact_dups', n_exact_dups FROM a
         |UNION ALL SELECT 'n_langs', n_langs FROM a
         |UNION ALL SELECT 'n_sources', n_sources FROM a
         |UNION ALL SELECT 'n_tokens', n_tokens FROM a
         |ORDER BY metric""".stripMargin,

    // BFS hop levels over the same exact J>=0.8 pair set: hop-capped
    // recursive closure, UNION-deduped (id, hop) rows, min(hop) = the
    // exact BFS distance; cap 8 matches Dedup.bfs maxHops
    "q_bfs" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(count(*) as double) AS inter
         |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b FROM i
         |  JOIN s sa ON sa.doc_id = i.doc_a
         |  JOIN s sb ON sb.doc_id = i.doc_b
         |  WHERE inter / (len(sa.sh) + len(sb.sh) - inter) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |r AS (SELECT doc_id AS id, 0 AS hop FROM documents
         |    WHERE doc_id % 23 = 0
         |  UNION
         |  SELECT e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.id
         |  WHERE r.hop < 8)
         |SELECT id AS doc_id, cast(min(hop) AS bigint) AS hop
         |FROM r GROUP BY id ORDER BY doc_id""".stripMargin,

    // inter-source matrix over the same exact J>=0.8 pair set,
    // orientation normalized by least/greatest on the source labels
    "q_source_overlap" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(count(*) as double) AS inter
         |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b FROM i
         |  JOIN s sa ON sa.doc_id = i.doc_a
         |  JOIN s sb ON sb.doc_id = i.doc_b
         |  WHERE inter / (len(sa.sh) + len(sb.sh) - inter) >= 0.8),
         |j AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM p JOIN documents da ON da.doc_id = p.doc_a
         |         JOIN documents db ON db.doc_id = p.doc_b)
         |SELECT src_a, src_b, cast(count(*) AS bigint) AS n_pairs
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // near-dup-aware split: same closure for group labels, singletons
    // fall back to their own doc_id, split = seeded-md5 bucket on the
    // GROUP label (cluster cohesion by construction)
    "q_split_neardup" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(count(*) as double) AS inter
         |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b FROM i
         |  JOIN s sa ON sa.doc_id = i.doc_a
         |  JOIN s sb ON sb.doc_id = i.doc_b
         |  WHERE inter / (len(sa.sh) + len(sb.sh) - inter) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |r AS (SELECT src AS id, dst AS reach FROM e
         |  UNION
         |  SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
         |lab AS (SELECT id AS doc_id, least(id, min(reach)) AS comp
         |  FROM r GROUP BY id),
         |g AS (SELECT d.doc_id, d.n_chars,
         |    coalesce(l.comp, d.doc_id) AS grp,
         |    l.comp IS NOT NULL AS clustered
         |  FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id),
         |b AS (SELECT *,
         |    ('0x' || substr(md5('nd#' || cast(grp AS varchar)), 1, 15))
         |      ::UBIGINT::BIGINT % 100 AS b
         |  FROM g)
         |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
         |    ELSE 'test' END AS split,
         |  cast(count(*) AS bigint) AS n_docs,
         |  cast(count(DISTINCT grp) AS bigint) AS n_groups,
         |  cast(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS bigint)
         |    AS n_clustered,
         |  cast(sum(n_chars) AS bigint) AS sum_chars
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    // keep-best cluster dedup: same closure, then argmax n_chars
    // (ties -> min doc_id) per component — integer comparisons only
    "q_dedup_keepbest" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(count(*) as double) AS inter
         |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b FROM i
         |  JOIN s sa ON sa.doc_id = i.doc_a
         |  JOIN s sb ON sb.doc_id = i.doc_b
         |  WHERE inter / (len(sa.sh) + len(sb.sh) - inter) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |r AS (SELECT src AS id, dst AS reach FROM e
         |  UNION
         |  SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
         |lab AS (SELECT id AS doc_id, least(id, min(reach)) AS comp
         |  FROM r GROUP BY id),
         |k AS (SELECT comp, l.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY comp
         |      ORDER BY d.n_chars DESC, l.doc_id) AS rk,
         |    count(*) OVER (PARTITION BY comp) AS n_members
         |  FROM lab l JOIN documents d ON d.doc_id = l.doc_id)
         |SELECT comp, doc_id AS keep_id, n_chars AS keep_chars,
         |  cast(n_members AS bigint) AS n_members
         |FROM k WHERE rk = 1 ORDER BY comp""".stripMargin,

    // ER clustering: recursive-CTE closure over brute levenshtein
    // pairs, same portable seeded-md5 60-bit name ids, same min-label
    "q_er_cluster" ->
      """WITH RECURSIVE p AS (SELECT DISTINCT p_name AS s FROM part),
        |ids AS (SELECT s,
        |    ('0x' || substr(md5('er#' || s), 1, 15))::UBIGINT::BIGINT
        |      AS id
        |  FROM p),
        |e0 AS (SELECT a.id AS src, b.id AS dst
        |  FROM ids a JOIN ids b
        |    ON a.s < b.s AND levenshtein(a.s, b.s) <= 2),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |r AS (SELECT src AS id, dst AS reach FROM e
        |  UNION
        |  SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
        |lab AS (SELECT id, least(id, min(reach)) AS comp
        |  FROM r GROUP BY id)
        |SELECT comp, cast(count(*) as bigint) AS n_names
        |FROM lab GROUP BY comp ORDER BY comp""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
         |hv AS (SELECT doc_id,
         |    ('0x' || substr(md5('0#' || tk), 1, 15))::UBIGINT::BIGINT AS h
         |  FROM tok),
         |bits AS (SELECT doc_id, k,
         |    sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS sb
         |  FROM hv CROSS JOIN (SELECT unnest(range(0, 60)) AS k) ks
         |  GROUP BY doc_id, k),
         |sh AS (SELECT doc_id, cast(sum(CASE WHEN sb > 0
         |    THEN (1::BIGINT << k) ELSE 0 END) as bigint) AS simhash
         |  FROM bits GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(bit_count(xor(a.simhash, b.simhash)) as bigint) AS dist
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, dist FROM p WHERE dist <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same inverted-index form (J >= 0.2 still implies >= 1 shared
    // shingle); lang equality rides on the postings join
    "q_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, lang, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, lang, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |u AS (SELECT doc_id, lang, unnest(sh) AS g FROM s),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(count(*) as double) AS inter
         |  FROM u a JOIN u b ON a.g = b.g AND a.lang = b.lang
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b,
         |    inter / (len(sa.sh) + len(sb.sh) - inter) AS j
         |  FROM i JOIN s sa ON sa.doc_id = i.doc_a
         |         JOIN s sb ON sb.doc_id = i.doc_b)
         |SELECT doc_a, doc_b, j FROM p WHERE j >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // cosine mirrors Similarity.normalized + dot exactly: per-vector unit
    // normalization first, then one zip-product fold per pair
    "q_dedup_embed" ->
      """WITH n AS (SELECT vec_id, list_transform(embedding,
        |    x -> cast(x as double) / sqrt(list_sum(list_transform(embedding,
        |      y -> cast(y as double) * cast(y as double))))) AS ne
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(list_zip(a.ne, b.ne),
        |      z -> cast(z[1] as double) * cast(z[2] as double))) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,

    "q_knn_brute" ->
      """WITH n AS (SELECT vec_id, list_transform(embedding,
        |    x -> cast(x as double) / sqrt(list_sum(list_transform(embedding,
        |      y -> cast(y as double) * cast(y as double))))) AS ne
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    list_sum(list_transform(list_zip(q.ne, c.ne),
        |      z -> cast(z[1] as double) * cast(z[2] as double))) AS cos
        |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |r AS (SELECT qid, vid, cos, row_number() OVER
        |    (PARTITION BY qid ORDER BY cos DESC, vid) AS rank FROM p)
        |SELECT qid, cast(rank as bigint) AS rank, vid, cos FROM r
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // streaming CDC merge with TOMBSTONES: the chunked versioned-
    // snapshot replay must equal ONE global per-key argmax under the
    // total (tsec, event_id) order, then DROP keys whose winning row
    // is a delete op (event_id ≡ 3 mod 10 — the synthesized Debezium
    // 'D' code) — the batch twin of last-writer-wins + MERGE DELETE
    "q_stream_upsert" ->
      """WITH e AS (SELECT user_id,
        |    cast(floor(epoch(ts)) AS bigint) AS tsec,
        |    event_id, event_type, value FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY tsec DESC, event_id DESC) AS rk FROM e)
        |SELECT user_id, tsec, event_id, event_type, value
        |FROM r WHERE rk = 1 AND event_id % 10 <> 3
        |ORDER BY user_id""".stripMargin,

    // change data feed v1 → v3: both version states recomputed as
    // global per-key argmaxes over the identical integer chunk
    // arithmetic (v1 = chunks 0-1: tsec < lo + 2·span/4; v3 = all),
    // tombstone winners dropped, then full-outer diffed — winning
    // rows are uniquely identified by event_id, so U ⟺ it changed
    "q_cdc_changes" ->
      """WITH e AS (SELECT user_id,
        |    cast(floor(epoch(ts)) AS bigint) AS tsec,
        |    event_id, value FROM events),
        |b AS (SELECT min(tsec) AS lo,
        |    max(tsec) - min(tsec) + 1 AS span FROM e),
        |s1 AS (SELECT user_id, event_id FROM (
        |    SELECT e.user_id, e.event_id, row_number() OVER (
        |      PARTITION BY e.user_id ORDER BY e.tsec DESC,
        |        e.event_id DESC) AS rk
        |    FROM e, b WHERE e.tsec < b.lo + (b.span * 2) // 4)
        |  WHERE rk = 1 AND event_id % 10 <> 3),
        |s3 AS (SELECT user_id, event_id, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY tsec DESC, event_id DESC) AS rk FROM e)
        |  WHERE rk = 1 AND event_id % 10 <> 3)
        |SELECT coalesce(s1.user_id, s3.user_id) AS user_id,
        |  CASE WHEN s1.user_id IS NULL THEN 'I'
        |       WHEN s3.user_id IS NULL THEN 'D' ELSE 'U' END AS op,
        |  s1.event_id AS old_event_id, s3.event_id AS new_event_id,
        |  s3.value AS new_value
        |FROM s1 FULL JOIN s3 ON s1.user_id = s3.user_id
        |WHERE s1.user_id IS NULL OR s3.user_id IS NULL
        |   OR s1.event_id <> s3.event_id
        |ORDER BY user_id""".stripMargin,

    "q_stream_window" ->
      s"""SELECT date_trunc('hour', ts) AS hour, event_type, $CNT AS n,
         |  ${d4("value")} AS sv
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q_stream_distinct" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |  cast(count(DISTINCT user_id) as bigint) AS uu
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,

    "q_stream_join" ->
      s"""SELECT date_trunc('hour', v.ts) AS hour, $CNT AS n_pairs,
         |  cast(count(DISTINCT v.user_id) as bigint) AS n_users,
         |  ${d4("p.value")} AS sv
         |FROM events v JOIN events p
         |  ON v.user_id = p.user_id AND v.event_type = 'view'
         |  AND p.event_type = 'purchase'
         |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
         |GROUP BY 1 ORDER BY hour""".stripMargin,

    // the view filter lives in WHERE (it prunes the preserved side
    // BEFORE the outer join, exactly like the Spark twin's pre-join
    // select); the purchase-side predicates stay in ON, where an outer
    // join requires them
    "q_stream_join_outer" ->
      s"""SELECT date_trunc('hour', v.ts) AS hour, $CNT AS n_rows,
         |  cast(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END)
         |    as bigint) AS n_unmatched,
         |  cast(count(DISTINCT v.event_id) as bigint) AS n_views,
         |  ${d4("p.value")} AS sv
         |FROM events v LEFT JOIN events p
         |  ON v.user_id = p.user_id AND p.event_type = 'purchase'
         |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
         |WHERE v.event_type = 'view'
         |GROUP BY 1 ORDER BY hour""".stripMargin,

    // FULL OUTER interval join: both unmatched sides, hour keyed on
    // coalesce(v_ts, p_ts) like the Spark twin
    "q_stream_join_full" ->
      s"""WITH v AS (SELECT user_id AS v_user, ts AS v_ts,
         |    event_id AS view_id
         |  FROM events WHERE event_type = 'view'),
         |p AS (SELECT user_id AS p_user, ts AS p_ts,
         |    event_id AS purchase_id, value
         |  FROM events WHERE event_type = 'purchase'),
         |j AS (SELECT v_ts, p_ts, view_id, purchase_id, value
         |  FROM v FULL JOIN p ON v_user = p_user
         |    AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 30 MINUTE)
         |SELECT date_trunc('hour', coalesce(v_ts, p_ts)) AS hour,
         |  $CNT AS n_rows,
         |  cast(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
         |    as bigint) AS n_unmatched_views,
         |  cast(sum(CASE WHEN view_id IS NULL THEN 1 ELSE 0 END)
         |    as bigint) AS n_unmatched_purchases,
         |  ${d4("value")} AS sv
         |FROM j GROUP BY 1 ORDER BY hour""".stripMargin,

    // every event belongs to the two 1h windows starting at its
    // half-hour truncation and 30 minutes before it (epoch-aligned,
    // mirroring Spark's window(ts, '1 hour', '30 minutes'))
    "q_stream_sliding" ->
      s"""WITH t AS (SELECT
         |    date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
         |      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS w1,
         |    event_type, value FROM events),
         |e AS (SELECT unnest([w1, w1 - INTERVAL 30 MINUTE]) AS wstart,
         |    event_type, value FROM t)
         |SELECT wstart, event_type, $CNT AS n, ${d4("value")} AS sv
         |FROM e GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,

    "q_stream_enrich" ->
      s"""SELECT c_mktsegment, $CNT AS n
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the Spark side PNG-encodes a synthetic image per doc and runs the
    // real javax.imageio decoder; pixels are the closed form below and
    // PNG is lossless, so the decoded per-channel sums must equal this
    // direct evaluation — a genuine codec-roundtrip hash gate
    "q_multimodal" ->
      """WITH p AS (SELECT doc_id, 16 + doc_id % 13 AS w,
        |    16 + doc_id % 11 AS h, doc_id % 251 AS d FROM documents)
        |SELECT doc_id, cast(w as bigint) AS width, cast(h as bigint) AS height,
        |  cast(list_sum(flatten(list_transform(range(w), x ->
        |    list_transform(range(h), y -> (x*7 + y*11 + d*3) % 256))))
        |    as bigint) AS sum_r,
        |  cast(list_sum(flatten(list_transform(range(w), x ->
        |    list_transform(range(h), y -> (x*5 + y*3 + d*7) % 256))))
        |    as bigint) AS sum_g,
        |  cast(list_sum(flatten(list_transform(range(w), x ->
        |    list_transform(range(h), y -> (x*13 + y + d) % 256))))
        |    as bigint) AS sum_b
        |FROM p ORDER BY doc_id""".stripMargin,

    // audio twin: recompute the closed-form 16-bit PCM signal
    // (graft.mm.Multimodal.sample) and its exact integer statistics —
    // the Spark side must recover the identical numbers through a real
    // WAV encode → AudioSystem decode round trip
    "q_audio" ->
      """WITH p AS (SELECT doc_id, 800 + (doc_id % 37) * 16 AS n,
        |    doc_id % 997 AS d FROM documents),
        |s AS (SELECT doc_id, n, list_transform(range(n),
        |    i -> ((i*31 + d*17)*73 + d) % 65536 - 32768) AS xs FROM p)
        |SELECT doc_id, cast(8000 as bigint) AS sample_rate,
        |  cast(1 as bigint) AS channels,
        |  cast(n as bigint) AS n_samples,
        |  cast(list_sum(xs) as bigint) AS sum_s,
        |  cast(list_sum(list_transform(xs, x -> x*x)) as bigint)
        |    AS sum_sq,
        |  cast(list_max(list_transform(xs, x -> abs(x))) as bigint)
        |    AS max_abs
        |FROM s ORDER BY doc_id""".stripMargin,

    // video twin: recompute the closed-form pixel content of exactly
    // the SAMPLED frames (every 2nd of 3..6) — the Spark side must
    // recover identical sums through slice → real PNG decode per frame
    "q_video" ->
      """WITH p AS (SELECT doc_id, 16 + doc_id % 13 AS w,
        |    16 + doc_id % 11 AS h, 3 + doc_id % 4 AS nf FROM documents),
        |f AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS fr FROM p),
        |sf AS (SELECT doc_id, w, h, nf, fr,
        |    (doc_id + fr * 7919) % 251 AS d FROM f WHERE fr % 2 = 0),
        |sums AS (SELECT doc_id, nf, w, h,
        |  cast(list_sum(flatten(list_transform(range(w), x ->
        |    list_transform(range(h), y -> (x*7 + y*11 + d*3) % 256))))
        |    as bigint) AS fr_r,
        |  cast(list_sum(flatten(list_transform(range(w), x ->
        |    list_transform(range(h), y -> (x*5 + y*3 + d*7) % 256))))
        |    as bigint) AS fr_g,
        |  cast(list_sum(flatten(list_transform(range(w), x ->
        |    list_transform(range(h), y -> (x*13 + y + d) % 256))))
        |    as bigint) AS fr_b
        |  FROM sf)
        |SELECT doc_id, cast(nf as bigint) AS n_frames,
        |  cast(count(*) as bigint) AS n_sampled,
        |  cast(w as bigint) AS width, cast(h as bigint) AS height,
        |  cast(sum(fr_r) as bigint) AS sum_r,
        |  cast(sum(fr_g) as bigint) AS sum_g,
        |  cast(sum(fr_b) as bigint) AS sum_b
        |FROM sums GROUP BY doc_id, nf, w, h
        |ORDER BY doc_id""".stripMargin,

    // systematic PPS sampling: identical seeded order, integer cumsum,
    // midpoint positions — pure integer math on both engines
    "q_sample_pps" ->
      s"""WITH c AS (
         |  SELECT doc_id, lang,
         |    cast(len($TOKS) as bigint) AS ntok,
         |    ('0x' || substr(md5('pps#' || doc_id), 1, 15))
         |      ::UBIGINT::BIGINT AS rk
         |  FROM documents),
         |cc AS (
         |  SELECT doc_id, lang, ntok,
         |    sum(ntok) OVER (PARTITION BY lang ORDER BY rk, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM c),
         |t AS (SELECT lang, max(cum) AS total FROM cc GROUP BY 1),
         |pos AS (
         |  SELECT lang, j, (total * (2 * j + 1)) // 20 AS p
         |  FROM t CROSS JOIN (SELECT unnest(range(10)) AS j)),
         |sel AS (
         |  SELECT cc.lang, pos.j, cc.doc_id, cc.ntok
         |  FROM cc JOIN pos ON cc.lang = pos.lang
         |    AND pos.p > cc.cum - cc.ntok AND pos.p <= cc.cum)
         |SELECT lang, cast(j as int) AS j, doc_id, ntok FROM sel
         |ORDER BY lang, j""".stripMargin,

    // incremental rollup maintenance: the oracle is the SINGLE-PASS
    // rollup — the gate proves the sharded partial-state merge is
    // exact (decimal aggregation state is algebraic)
    "q_incr_rollup" ->
      s"""SELECT cast(ts as date) AS day, event_type, $CNT AS n,
         |  ${d4("value")} AS sv
         |FROM events GROUP BY 1, 2
         |ORDER BY day, event_type""".stripMargin,

    // z-order key: the identical 32-term interleave sum, restated by
    // ZOrder.zvalSql — pure non-negative integer bit math
    "q_zorder" -> {
      val z = graft.functions.ZOrder.zvalSql("x", "y")
      s"""WITH b AS (SELECT o_orderkey,
         |    o_custkey % 65536 AS x,
         |    cast(date_diff('day', DATE '1970-01-01',
         |      cast(o_orderdate as date)) as bigint) % 65536 AS y
         |  FROM orders)
         |SELECT o_orderkey, x, y, $z AS zval
         |FROM b ORDER BY o_orderkey""".stripMargin
    },

    // SCD-1 merge: latest change per user under the identical total
    // order; full-outer apply; values pass through untouched.
    "q_upsert" ->
      """WITH latest AS (
        |  SELECT user_id, value FROM (
        |    SELECT user_id, value, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT coalesce(c.c_custkey, l.user_id) AS c_custkey,
        |  c.c_name,
        |  coalesce(l.value, c.c_acctbal) AS c_acctbal,
        |  CASE WHEN c.c_custkey IS NULL THEN 'insert'
        |       WHEN l.user_id IS NULL THEN 'keep'
        |       ELSE 'update' END AS action
        |FROM customer c FULL JOIN latest l ON c.c_custkey = l.user_id
        |ORDER BY c_custkey""".stripMargin,

    // multi-clause MERGE: the clause algebra replayed as CASE arms
    // over the same full join — delete first (WHERE), then update,
    // else keep; source-only rows insert only under the insert cond
    "q_merge_multi" ->
      """WITH t AS (SELECT * FROM customer WHERE c_custkey % 7 <> 0),
        |s AS (SELECT o_custkey AS k,
        |             sum(cast(o_totalprice AS DECIMAL(18,2))) AS spent,
        |             count(*) AS n
        |      FROM orders GROUP BY 1)
        |SELECT coalesce(c_custkey, k) AS c_custkey,
        |  c_name,
        |  c_nationkey,
        |  CASE WHEN c_custkey IS NULL THEN cast(spent AS double)
        |       WHEN k IS NOT NULL AND n >= 12 THEN cast(spent AS double)
        |       ELSE c_acctbal END AS c_acctbal,
        |  CASE WHEN c_custkey IS NULL THEN 'NEW'
        |       WHEN k IS NOT NULL AND n >= 12 THEN 'VIP'
        |       ELSE c_mktsegment END AS c_mktsegment,
        |  CASE WHEN c_custkey IS NULL THEN 'insert'
        |       WHEN k IS NOT NULL AND n >= 12 THEN 'update'
        |       ELSE 'keep' END AS action
        |FROM t FULL JOIN s ON c_custkey = k
        |WHERE NOT (c_custkey IS NOT NULL AND k IS NOT NULL
        |           AND spent > 3700000)
        |  AND NOT (c_custkey IS NULL AND n < 8)
        |ORDER BY c_custkey""".stripMargin,

    // incremental join view: the oracle just joins the WHOLE tables —
    // the gate proves base-join + delta-join algebra == full join
    "q_incr_join" ->
      """SELECT o_orderstatus, c_mktsegment,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS double)
        |    AS total
        |FROM orders, customer
        |WHERE o_custkey = c_custkey
        |GROUP BY o_orderstatus, c_mktsegment
        |ORDER BY o_orderstatus, c_mktsegment""".stripMargin,

    // point-in-time join: replay the scd2 CTE chain, then each hourly
    // probe LEFT JOINs the version whose half-open interval contains
    // it (same-second stacks excluded by from==to emptiness — the
    // as-of max-struct pick resolves identically)
    "q_pit_join" ->
      """WITH ch AS (
        |  SELECT user_id, cast(floor(epoch(ts)) as bigint) AS tsec,
        |    event_id, value FROM events),
        |d AS (
        |  SELECT *, lag(value) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM ch WINDOW w AS (PARTITION BY user_id
        |    ORDER BY tsec, event_id)),
        |kept AS (
        |  SELECT * FROM d
        |  WHERE rn = 1 OR value IS DISTINCT FROM prev),
        |hist AS (
        |  SELECT user_id,
        |    cast(row_number() OVER w AS bigint) AS version, value,
        |    tsec AS valid_from, lead(tsec) OVER w AS valid_to
        |  FROM kept WINDOW w AS (PARTITION BY user_id
        |    ORDER BY tsec, event_id)),
        |probes AS (
        |  SELECT user_id, g.range AS p
        |  FROM (SELECT DISTINCT user_id FROM events),
        |       range(1704067200, 1706659200, 3600) g)
        |SELECT p.user_id,
        |  cast(count(h.version) AS bigint) AS covered,
        |  max(h.version) AS max_version,
        |  cast(sum(cast(h.value AS DECIMAL(18,4))) AS double) AS sv
        |FROM probes p LEFT JOIN hist h
        |  ON p.user_id = h.user_id AND p.p >= h.valid_from
        |  AND (h.valid_to IS NULL OR p.p < h.valid_to)
        |GROUP BY p.user_id
        |ORDER BY p.user_id""".stripMargin,

    // join-size estimation: the oracle EXECUTES the 1.8M-pair
    // self-join and counts it — the gate proves sum(n^2) == reality
    "q_join_size_est" ->
      """WITH c AS (
        |  SELECT l_partkey AS k, cast(count(*) AS bigint) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT (SELECT cast(count(*) AS bigint)
        |        FROM lineitem a JOIN lineitem b
        |          ON a.l_partkey = b.l_partkey) AS pairs,
        |       cast(count(*) AS bigint) AS n_keys,
        |       max(n) AS max_mult
        |FROM c""".stripMargin,

    // SCD-2: change-filter under a null-safe IS DISTINCT FROM against
    // the lag, then version/interval windows over the SURVIVORS only —
    // the nested-CTE twin of the two-window Spark plan. Epochs floored
    // to whole seconds (the portable duration idiom).
    // per-dim standardization: same Q16 quantization, exact integer
    // moments (hugeint — DuckDB's native exact sum), the identical
    // two correctly-rounded IEEE ops for z
    "q_embed_norm" ->
      """WITH u AS (SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS d0 FROM embeddings),
        |q AS (SELECT vec_id, cast(d0 AS bigint) AS dim,
        |    cast(floor(cast(v AS double) * 65536) AS bigint) AS q
        |  FROM u),
        |st AS (SELECT dim, cast(count(*) AS bigint) AS n,
        |    sum(q) AS s, sum(q * q) AS s2 FROM q GROUP BY dim)
        |SELECT vec_id, q.dim, q.q,
        |  cast(st.n * q.q - st.s AS double) /
        |    sqrt(cast(st.n * st.s2 - st.s * st.s AS double)) AS z
        |FROM q JOIN st USING (dim)
        |WHERE vec_id < 5
        |ORDER BY vec_id, dim""".stripMargin,

    // snapshot diff: identical B-synthesis, full join on the key,
    // null-safe fingerprint compare, newer-side-wins source label
    "q_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, source, md5(text) AS fp
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
        |      ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source,
        |    md5(text || ' [new]') AS fp
        |  FROM documents WHERE doc_id % 7 = 0),
        |j AS (SELECT coalesce(b.source, a.source) AS source,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |      WHEN b.doc_id IS NULL THEN 'removed'
        |      WHEN a.fp IS DISTINCT FROM b.fp THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |  FROM a FULL JOIN b ON a.doc_id = b.doc_id)
        |SELECT source, status, cast(count(*) AS bigint) AS n_docs
        |FROM j GROUP BY source, status
        |ORDER BY source, status""".stripMargin,

    // interval coalesce: identical gaps-and-islands window math
    "q_interval_coalesce" ->
      """WITH iv AS (SELECT user_id,
        |    cast(floor(epoch(ts)) AS bigint) AS lo,
        |    cast(floor(epoch(ts)) AS bigint) + 300 AS hi, event_id
        |  FROM events),
        |d AS (SELECT *, max(hi) OVER (PARTITION BY user_id
        |    ORDER BY lo, hi, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |g AS (SELECT *, sum(CASE WHEN pm IS NULL OR lo > pm
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY lo, hi, event_id) AS island FROM d),
        |i AS (SELECT user_id, island, min(lo) AS island_lo,
        |    max(hi) AS island_hi, count(*) AS n_members
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, cast(count(*) AS bigint) AS n_islands,
        |  cast(sum(n_members) AS bigint) AS n_events,
        |  cast(max(island_hi - island_lo) AS bigint) AS max_span,
        |  min(island_lo) AS first_lo, max(island_hi) AS last_hi
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin,

    // vocabulary overlap: exact token-set Jaccard per source pair —
    // integer counts, one correctly-rounded division
    "q_vocab_overlap" ->
      s"""WITH x AS (SELECT source, unnest($TOKS) AS tk FROM documents),
         |t AS (SELECT DISTINCT source, tk FROM x),
         |sz AS (SELECT source, count(*) AS nv FROM t GROUP BY source),
         |i AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS n_inter
         |  FROM t a JOIN t b ON a.tk = b.tk AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, cast(sa.nv AS bigint) AS nv_a,
         |  cast(sb.nv AS bigint) AS nv_b,
         |  cast(n_inter AS bigint) AS n_inter,
         |  cast(n_inter AS double)
         |    / cast(sa.nv + sb.nv - n_inter AS double) AS jaccard
         |FROM i JOIN sz sa ON sa.source = i.src_a
         |       JOIN sz sb ON sb.source = i.src_b
         |ORDER BY src_a, src_b""".stripMargin,

    "q_scd2" -> scd2Sql,

    // the incremental fold must equal the one-shot build bit-for-bit,
    // so its oracle IS q_scd2's SQL
    "q_scd2_incr" -> scd2Sql,

    // the streaming SCD2 sink's 4-chunk version chain must equal the
    // one-shot history — q_scd2's SQL verbatim (the q_scd2_incr
    // restriction theorem through the manifest-commit chain)
    "q_stream_scd2" -> scd2Sql,

    // data-quality audit: same five scans, unioned scalar counts
    "q_dq_audit" ->
      """SELECT chk, n FROM (
        |  SELECT 'lineitem_rows' AS chk,
        |    cast(count(*) as bigint) AS n FROM lineitem
        |  UNION ALL SELECT 'lineitem_null_shipdate',
        |    cast(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |      as bigint) FROM lineitem
        |  UNION ALL SELECT 'lineitem_nonpositive_qty',
        |    cast(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |      as bigint) FROM lineitem
        |  UNION ALL SELECT 'lineitem_discount_out_of_range',
        |    cast(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5
        |      THEN 1 ELSE 0 END) as bigint) FROM lineitem
        |  UNION ALL SELECT 'lineitem_orphan_orderkey',
        |    cast(count(*) as bigint) FROM lineitem
        |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL SELECT 'lineitem_duplicate_pk',
        |    cast(count(*) as bigint) FROM (
        |      SELECT l_orderkey, l_linenumber FROM lineitem
        |      GROUP BY 1, 2 HAVING count(*) > 1)
        |  UNION ALL SELECT 'orders_orphan_custkey',
        |    cast(count(*) as bigint) FROM orders
        |    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |ORDER BY chk""".stripMargin,

    // triangles: the SAME exact J>=0.8 pair set as q_jaccard_join's
    // oracle, closed naively (a<b<c three-way self-join) — the Spark
    // side's degree-oriented enumeration must produce the identical
    // list, so the orientation machinery is hash-verified.
    "q_triangles" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |u AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    cast(count(*) as double) AS inter
         |  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b,
         |    inter / (len(sa.sh) + len(sb.sh) - inter) AS j
         |  FROM i JOIN s sa ON sa.doc_id = i.doc_a
         |         JOIN s sb ON sb.doc_id = i.doc_b),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM p WHERE j >= 0.8)
         |SELECT e1.a AS doc_a, e1.b AS doc_b, e2.b AS doc_c
         |FROM e e1 JOIN e e2 ON e1.b = e2.a
         |          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         |ORDER BY doc_a, doc_b, doc_c""".stripMargin,

    // local clustering coefficient: triangles + degrees over the same
    // exact edge set; coef = (2·tri)/(deg·(deg−1)) is ONE correctly-
    // rounded integer division — IEEE-identical across engines
    "q_clustering_coef" ->
      s"""WITH $pairEdgeCte,
         |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tn AS (SELECT v, cast(count(*) as bigint) AS t FROM (
         |    SELECT unnest([x, y, z]) AS v FROM tr) GROUP BY 1),
         |d AS (SELECT v, cast(count(*) as bigint) AS deg FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
         |SELECT d.v AS doc_id, d.deg, coalesce(tn.t, 0) AS n_tri,
         |  CASE WHEN d.deg >= 2 THEN
         |    cast(2 * coalesce(tn.t, 0) as double)
         |      / cast(d.deg * (d.deg - 1) as double)
         |  ELSE 0.0 END AS coef
         |FROM d LEFT JOIN tn ON tn.v = d.v
         |ORDER BY doc_id""".stripMargin,

    "q_kcore" -> kcoreSql,

    // build-once/query-many artifact rollup: one pair-set replay, five
    // analytics (components/keep-best/pagerank/triangles/2-core) — the
    // same answers the standalone gates check, rolled up per component
    "q_graph_reuse" -> graphReuseSql,

    // portable signed random projection: identical ±1 stream from the
    // md5 hex prefix, identical exact integer quantization (×2^16 is
    // an exponent shift — exact in both engines' doubles), so each
    // projection is the same 64-term integer sum. Subscripts are
    // 1-based in DuckDB → i-1 feeds the hash to match Spark's 0-based
    // sequence.
    "q_rand_proj" -> {
      val cols = (0 until 8).map(j =>
        s"""  cast(sum(CASE WHEN ('0x' || substr(md5('rp#$j#' || i), 1, 15))
           |      ::UBIGINT::BIGINT % 2 = 0 THEN 1 ELSE -1 END
           |    * cast(floor(cast(v as double) * 65536) as bigint))
           |    as bigint) AS p$j""".stripMargin).mkString(",\n")
      s"""WITH u AS (SELECT vec_id, unnest(embedding) AS v,
         |    generate_subscripts(embedding, 1) - 1 AS i FROM embeddings)
         |SELECT vec_id,
         |$cols
         |FROM u GROUP BY vec_id
         |ORDER BY vec_id""".stripMargin
    },
  )
}
