package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: `queries` = the engine's verifiable operator surface,
  * `oracleSql` = DuckDB-equivalent SQL per query (hash-compared by the
  * driver at sf0.01). Column names and float-expression order are part of
  * the contract — see Queries.scala / OracleSql.scala.
  */
object SparkEntry {

  /** Flagship: tile assignment + per-tile counts on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q05TileCounts(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg" -> (Queries.q01Agg _),
    "q02_gh_encode" -> (Queries.q02GhEncode _),
    "q03_gh_children" -> (Queries.q03GhChildren _),
    "q04_gh_neighbors" -> (Queries.q04GhNeighbors _),
    "q05_tile_counts" -> (Queries.q05TileCounts _),
    "q06_filter_intersects" -> (Queries.q06FilterIntersects _),
    "q07_filter_contains" -> (Queries.q07FilterContains _),
    "q08_dwithin" -> (Queries.q08Dwithin _),
    "q09_measure_distance" -> (Queries.q09MeasureDistance _),
    "q10_bbox_all" -> (Queries.q10BboxAll _),
    "q11_hilbert" -> (Queries.q11Hilbert _),
    "q12_wkt_point" -> (Queries.q12WktPoint _),
    "q13_gj_point" -> (Queries.q13GjPoint _),
    "q14_token_count" -> (Queries.q14TokenCount _),
    "q15_text_stats" -> (Queries.q15TextStats _),
    "q16_lang_scores" -> (Queries.q16LangScores _),
    "q17_dedup_exact" -> (Queries.q17DedupExact _),
    "q18_minhash_sig" -> (Queries.q18MinhashSig _),
    "q19_minhash_pairs" -> (Queries.q19MinhashPairs _),
    "q20_simhash" -> (Queries.q20Simhash _),
    "q21_fingerprint" -> (Queries.q21Fingerprint _),
    "q22_ann_topk" -> (Queries.q22AnnTopk _),
    "q23_window_counts" -> (Queries.q23WindowCounts _),
    "q24_sessions" -> (Queries.q24Sessions _),
    "q25_knn" -> (Queries.q25Knn _),
    "q26_spatial_join" -> (Queries.q26SpatialJoin _),
    // image queries: rows-only driver check (phash is pixel-derived, not
    // SQL-expressible); invariants asserted in ImagesSpec
    // q27/q29 persist the deterministic anchor table to parquet inside the
    // query, so their oracles recompute tiling / the box join from the
    // STORED columns — full hash gates. q28 stays rows-only (pixel-derived
    // PSNR floors are not SQL-expressible); its invariants gate via q44.
    "q27_img_tiles" -> (Queries.q27ImgTiles _),
    "q28_img_roundtrip" -> (Queries.q28ImgRoundtrip _),
    "q29_img_box_join" -> (Queries.q29ImgBoxJoin _),
    "q30_simplify" -> (Queries.q30Simplify _), // rows-only: VW not SQL-expressible
    "q31_munge" -> (Queries.q31Munge _),
    "q32_parse_wkt" -> (Queries.q32ParseWkt _),
    "q33_ann_ivf" -> (Queries.q33AnnIvf _),
    "q34_curation_pipeline" -> (Queries.q34CurationPipeline _),
    "q35_h3_encode" -> (Queries.q35H3Encode _),
    "q36_h3_griddisk" -> (Queries.q36H3GridDisk _),
    "q37_h3_compact" -> (Queries.q37H3Compact _),
    "q38_h3_covering" -> (Queries.q38H3Covering _),
    "q39_h3_pentagon" -> (Queries.q39H3Pentagon _),
    "q40_gh_covering" -> (Queries.q40GhCovering _),
    "q41_centroid" -> (Queries.q41Centroid _),
    "q42_gj_fc" -> (Queries.q42GjFc _),
    "q43_natural_join" -> (Queries.q43NaturalJoin _),
    "q44_img_invariants" -> (Queries.q44ImgInvariants _),
    "q45_dwithin_join" -> (Queries.q45DwithinJoin _),
    "q46_knn_geodesic" -> (Queries.q46KnnGeodesic _),
    "q47_box_join" -> (Queries.q47BoxJoin _),
    "q48_dwithin_small" -> (Queries.q48DwithinSmall _),
    "q49_simplify_vw" -> (Queries.q49SimplifyVw _),
    "q50_embed_neardup" -> (Queries.q50EmbedNearDup _),
    "q51_natural_anti" -> (Queries.q51NaturalAnti _),
    "q52_video_sample" -> (Queries.q52VideoSample _),
    "q53_audio_features" -> (Queries.q53AudioFeatures _),
    "q54_video_neardup" -> (Queries.q54VideoNearDup _),
    "q55_topdown_cover" -> (Queries.q55TopdownCover _),
    "q56_natural_small" -> (Queries.q56NaturalSmall _),
    "q57_bucketed_join" -> (Queries.q57BucketedJoin _),
    "q58_asof_join" -> (Queries.q58AsofJoin _),
    "q59_interval_join" -> (Queries.q59IntervalJoin _),
    "q60_hll_sketch" -> (Queries.q60HllSketch _),
    "q61_simhash_pairs" -> (Queries.q61SimhashPairs _),
    "q62_jaccard_pairs" -> (Queries.q62JaccardPairs _),
    "q63_components" -> (Queries.q63Components _),
    "q64_natural_interval" -> (Queries.q64NaturalInterval _),
    "q65_packing" -> (Queries.q65Packing _),
    "q66_mixing" -> (Queries.q66Mixing _),
    "q67_quantiles" -> (Queries.q67Quantiles _),
    "q68_bloom" -> (Queries.q68Bloom _),
    "q69_decontam" -> (Queries.q69Decontam _),
    "q70_repetition" -> (Queries.q70Repetition _),
    "q71_bpe_tokens" -> (Queries.q71BpeTokens _),
    "q72_sample_domain" -> (Queries.q72SamplePerDomain _),
    "q73_redact" -> (Queries.q73Redact _),
    "q74_norm_dedup" -> (Queries.q74NormDedup _),
    "q75_url_domains" -> (Queries.q75UrlDomains _),
    "q76_dedup_pipeline" -> (Queries.q76DedupPipeline _),
    "q77_bpe_tokens" -> (Queries.q77BpeTokens _),
    "q78_psl_domains" -> (Queries.q78PslDomains _),
    "q79_natural_hamming" -> (Queries.q79NaturalHamming _),
    "q80_redact_clean" -> (Queries.q80RedactClean _),
    "q81_pack_bpe" -> (Queries.q81PackBpe _),
    "q82_quality_floor" -> (Queries.q82QualityFloor _),
    "q83_hash_split" -> (Queries.q83HashSplit _),
    "q84_decontam_neardup" -> (Queries.q84DecontamNeardup _),
    "q85_tfidf" -> (Queries.q85Tfidf _),
    "q86_simhash128_pairs" -> (Queries.q86Simhash128Pairs _),
    "q87_kmeans" -> (Queries.q87Kmeans _),
  )

  // ---------------- oracle SQL ----------------

  private val P = OracleSql.PTS_CTE
  private def li(n: Int) = OracleSql.lonIdxSql(n)
  private def la(n: Int) = OracleSql.latIdxSql(n)
  private def gh(lonCol: String, latCol: String, n: Int) =
    OracleSql.ghFromIndicesSql(lonCol, latCol, n)

  private val BASE32_LIST: String =
    "0123456789bcdefghjkmnpqrstuvwxyz".map(c => s"'$c'").mkString("[", ",", "]")

  /** Shared minhash shingle-hash CTE (mirror of Queries.shingleHashes). */
  private val SHINGLES_CTE: String =
    """sh AS (
      |  SELECT doc_id,
      |    CASE WHEN length(t) < 4 THEN [CAST(0 AS BIGINT)]
      |    ELSE [CAST(((((ord(substr(t, i, 1)) * 31 + ord(substr(t, i + 1, 1))) % 2147483647) * 31
      |           + ord(substr(t, i + 2, 1))) % 2147483647 * 31
      |           + ord(substr(t, i + 3, 1))) % 2147483647 AS BIGINT) for i in range(1, length(t) - 2)]
      |    END AS hs
      |  FROM (SELECT doc_id, lower(substr(text, 1, 256)) AS t FROM documents)
      |)""".stripMargin

  private def minhashCols: String =
    Queries.MH_COEF.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % 2147483647)) AS m$i"
    }.mkString(",\n    ")

  private val SIG_CTE: String =
    s"$SHINGLES_CTE,\nsig AS (\n  SELECT doc_id,\n    $minhashCols\n  FROM sh\n)"

  private def langScoreSql: String = {
    val markers = Seq(
      "s_en" -> Seq(" the ", " and ", " is "),
      "s_de" -> Seq(" der ", " und ", " ist "),
      "s_fr" -> Seq(" le ", " et ", " est "),
      "s_es" -> Seq(" el ", " y ", " es "))
    markers.map { case (name, ms) =>
      ms.map(m => s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}")
        .mkString("(", " + ", s") AS $name")
    }.mkString(",\n    ")
  }

  private def simhashBitsOf(hs: String): String =
    (0 until 32).map { b =>
      s"((CASE WHEN list_sum(list_transform($hs, h -> ((h >> $b) & 1) * 2 - 1)) >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << $b)"
    }.mkString("(", " | ", ")")

  private def simhashBits: String = simhashBitsOf("hs")

  /** 31-bit polynomial token-hash list (q20's kernel) over `src`. */
  private def tokHashList(src: String): String =
    s"""list_transform(regexp_split_to_array(trim($src), '\\s+'),
       |      tk -> CASE WHEN length(tk) = 0 THEN CAST(0 AS BIGINT)
       |            ELSE CAST(list_reduce([CAST(ord(substr(tk, i, 1)) AS BIGINT) for i in range(1, length(tk) + 1)],
       |                      (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) END)""".stripMargin

  /** The HllAgg.mix avalanche over a BIGINT list, staged as chained
    * list_transforms (each stage references its input once — DuckDB has
    * no let-binding inside a lambda). Inputs < 2³¹ keep every product
    * under 2⁶³ (m1 ≤ 2654435761, then values < 2³² times m2 ≤ 57885161). */
  private def mixList(src: String, m1: Long, m2: Long): String =
    s"list_transform(list_transform(list_transform(list_transform($src, " +
      s"x -> (x * $m1) % 4294967296), a -> xor(a, a >> 16)), " +
      s"a -> (a * $m2) % 4294967296), a -> xor(a, a >> 15))"

  /** The two 32-bit-half token-hash lists of the 64-bit simhash: the
    * 31-bit poly finalized through the HLL/Bloom mix pair (a RAW poly of
    * short tokens never reaches the high bits — the high bands would
    * collapse to one key). */
  private def simhash64Tok(name: String, m1: Long, m2: Long, src: String = "text"): String =
    s"${mixList(tokHashList(src), m1, m2)} AS $name"

  /** The BPE merge replay as composable CTEs (q77, q81): the merge table
    * rendered from `Bpe.MERGES`, words unnested, distinct words walked
    * one rank step per recursion on the '|'-marker encoding. */
  private def bpeTokCtes: String =
    s"""m(r, a, b) AS (VALUES ${graft.ops.Bpe.MERGES.zipWithIndex
           .map { case ((a, b), i) => s"($i, '$a', '$b')" }.mkString(", ")}),
       |w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
       |  FROM documents),
       |dw AS (SELECT DISTINCT word FROM w),
       |st AS (
       |  SELECT word, regexp_replace(word, '(.)', '|\\1', 'g') AS s, 0 AS i FROM dw
       |  UNION ALL
       |  SELECT st.word, replace(st.s, '|' || m.a || '|' || m.b, '|' || m.a || m.b), st.i + 1
       |  FROM st JOIN m ON m.r = st.i
       |),
       |fin AS (SELECT word, length(s) - length(replace(s, '|', '')) AS ntok
       |  FROM st WHERE i = ${graft.ops.Bpe.MERGES.size})""".stripMargin

  /** The PSL fixture replayed as SQL: longest-rule-first CASE chain
    * (exception rules ahead of same-length wildcards, then plain
    * multi-label rules by length; single-label plains are behaviorally
    * the implicit `*` default, which IS the ELSE branch). Rendered from
    * the same `Urls.PSL_FIXTURE` constant the engine matches against. */
  private def pslApexWhens: String = {
    val rules = graft.ops.Urls.PSL_FIXTURE
    def esc(s: String) = s.replace(".", "\\.")
    val lbl = "[a-z0-9-]+"
    val whens: Seq[(Int, String)] =
      rules.filter(_.startsWith("!")).map(_.drop(1)).map { e =>
        ((e.count(_ == '.') + 1) * 2 + 1,
          s"WHEN host = '$e' OR host LIKE '%.$e' THEN '$e'")
      } ++
      rules.filter(_.startsWith("*.")).map(_.drop(2)).map { x =>
        ((x.count(_ == '.') + 2) * 2,
          s"WHEN host LIKE '%.$x' THEN coalesce(nullif(regexp_extract(host, " +
            s"'($lbl\\.$lbl\\.${esc(x)})$$', 1), ''), host)")
      } ++
      rules.filterNot(r => r.startsWith("!") || r.startsWith("*."))
        .filter(_.contains(".")).map { s =>
          ((s.count(_ == '.') + 1) * 2,
            s"WHEN host = '$s' THEN '$s' WHEN host LIKE '%.$s' " +
              s"THEN regexp_extract(host, '($lbl\\.${esc(s)})$$', 1)")
        }
    whens.sortBy(-_._1).map(_._2).mkString("\n      ")
  }

  /** The 64-bit fingerprint as two NON-NEGATIVE 32-bit BIGINT halves —
    * DuckDB can't build the single word (BIGINT `1 << 63` overflows), and
    * XOR-popcount distributes over disjoint halves, so
    * popcount(lo⊕lo') + popcount(hi⊕hi') IS the 64-bit hamming. */
  private def simhash64Halves: String =
    s"SELECT doc_id, ${simhashBitsOf("hs1")} AS lo, ${simhashBitsOf("hs2")} AS hi FROM tok64"

  /** Brute-force all-pairs hamming ≤ 3 over the mirrored 64-bit simhash
    * — the shared ground truth of q61 (API path) and q79 (natural SQL
    * through the HammingJoinRewrite rule). */
  private def simhash64PairsSql: String =
    s"""WITH tok64 AS (
       |  SELECT doc_id,
       |    ${simhash64Tok("hs1", 2654435761L, 49979693L)},
       |    ${simhash64Tok("hs2", 2246822519L, 57885161L)}
       |  FROM documents),
       |s AS ($simhash64Halves)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** q87's oracle: the SAME fixed Lloyd steps unrolled as plain CTEs —
    * quantize once, then per step (assignment by integer squared
    * distance with smallest-cluster ties → per-dim integer-division
    * means, empty clusters keeping their previous centroid), and the
    * final assignment emitted with its exact distance (a BIGINT sum). */
  private def kmeansSql(k: Int, iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""d$t AS (SELECT qd.vec_id, c.cluster, CAST(sum((qd.val - c.val) * (qd.val - c.val)) AS BIGINT) AS dist
         |  FROM qd JOIN c${t - 1} c ON qd.pos = c.pos GROUP BY 1, 2),
         |a$t AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rn
         |  FROM d$t) WHERE rn = 1),
         |m$t AS (SELECT a.cluster, qd.pos, sum(qd.val) // count(*) AS val
         |  FROM a$t a JOIN qd ON qd.vec_id = a.vec_id GROUP BY 1, 2),
         |c$t AS (SELECT cluster, pos, val FROM m$t
         |  UNION ALL SELECT c.cluster, c.pos, c.val FROM c${t - 1} c
         |    WHERE c.cluster NOT IN (SELECT cluster FROM m$t))""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qd AS (SELECT vec_id, i AS pos, qv[i] AS val
       |  FROM q, (SELECT unnest(range(1, len((SELECT qv FROM q LIMIT 1)) + 1)) AS i) idx),
       |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
       |  FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT $k)),
       |c0 AS (SELECT s.cluster, qd.pos, qd.val FROM seeds s JOIN qd ON qd.vec_id = s.vec_id),
       |$steps,
       |df AS (SELECT qd.vec_id, c.cluster, CAST(sum((qd.val - c.val) * (qd.val - c.val)) AS BIGINT) AS dist
       |  FROM qd JOIN c$iters c ON qd.pos = c.pos GROUP BY 1, 2)
       |SELECT vec_id, cluster, dist FROM (SELECT vec_id, cluster, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rn
       |  FROM df) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q87_kmeans" -> kmeansSql(8, 3),
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_gh_encode" ->
      s"""WITH $P,
         |idx AS (SELECT id, ${li(5)} AS loni, ${la(5)} AS lati FROM pts)
         |SELECT id, ${gh("loni", "lati", 5)} AS gh FROM idx ORDER BY id""".stripMargin,

    "q03_gh_children" ->
      s"""WITH $P,
         |idx AS (SELECT DISTINCT ${gh("loni", "lati", 3)} AS gh
         |        FROM (SELECT ${li(3)} AS loni, ${la(3)} AS lati FROM pts))
         |SELECT gh, gh || c AS child
         |FROM idx CROSS JOIN (SELECT unnest($BASE32_LIST) AS c)
         |ORDER BY gh, child""".stripMargin,

    "q04_gh_neighbors" -> {
      val latCells = 1L << 12
      val lonCells = 1L << 13
      s"""WITH $P,
         |q0 AS (SELECT id, ${li(5)} AS li, ${la(5)} AS ai FROM pts),
         |q1 AS (SELECT id, li, ai,
         |         (li + 1) % $lonCells AS lie, (li + ${lonCells - 1}) % $lonCells AS liw,
         |         ai + 1 AS ain, ai - 1 AS ais
         |       FROM q0 WHERE ai BETWEEN 1 AND ${latCells - 2})
         |SELECT id,
         |  ${gh("li", "ai", 5)} AS gh,
         |  ${gh("li", "ain", 5)} AS n,
         |  ${gh("lie", "ain", 5)} AS ne,
         |  ${gh("lie", "ai", 5)} AS e,
         |  ${gh("lie", "ais", 5)} AS se,
         |  ${gh("li", "ais", 5)} AS s,
         |  ${gh("liw", "ais", 5)} AS sw,
         |  ${gh("liw", "ai", 5)} AS w,
         |  ${gh("liw", "ain", 5)} AS nw
         |FROM q1 ORDER BY id""".stripMargin
    },

    "q05_tile_counts" ->
      s"""WITH $P,
         |t AS (SELECT ${gh("loni", "lati", 3)} AS tile
         |      FROM (SELECT ${li(3)} AS loni, ${la(3)} AS lati FROM pts))
         |SELECT tile, count(*) AS n_points FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q06_filter_intersects" ->
      s"""WITH $P
         |SELECT id FROM pts
         |WHERE lat >= 0.0 AND lat <= 45.0 AND lon >= -135.0 AND lon <= -90.0
         |ORDER BY id""".stripMargin,

    "q07_filter_contains" ->
      s"""WITH $P
         |SELECT id FROM pts
         |WHERE lat > 0.0 AND lat < 50.0 AND lon > -50.0 AND lon < 30.0
         |ORDER BY id""".stripMargin,

    "q08_dwithin" ->
      s"""WITH $P,
         |${OracleSql.vincentyCtes(Queries.DW_LON, Queries.DW_LAT, "pts", Seq("id"))}
         |SELECT id FROM vfin WHERE meters < ${Queries.DW_RADIUS} ORDER BY id""".stripMargin,

    "q09_measure_distance" ->
      s"""WITH $P,
         |${OracleSql.vincentyCtes(Queries.DW_LON, Queries.DW_LAT, "pts", Seq("id"))}
         |SELECT id, CAST(round(meters) AS BIGINT) AS meters FROM vfin ORDER BY id""".stripMargin,

    "q10_bbox_all" ->
      s"""WITH $P
         |SELECT min(lon) AS minx, min(lat) AS miny, max(lon) AS maxx, max(lat) AS maxy
         |FROM pts""".stripMargin,

    "q11_hilbert" ->
      s"""WITH $P,
         |xy AS (SELECT id,
         |  CAST(floor((65535.0 * (lon - -180.0)) / 360.0) AS BIGINT) AS gx,
         |  CAST(floor((65535.0 * (lat - -90.0)) / 180.0) AS BIGINT) AS gy
         |FROM pts)
         |SELECT id, h FROM ${OracleSql.hilbertLayersSql("xy", "gx", "gy", Seq("id"))}
         |ORDER BY h, id""".stripMargin,

    "q12_wkt_point" ->
      s"""WITH $P
         |SELECT id, 'POINT(' || ((id % 360) - 180) || ' ' || ((id % 180) - 90) || ')' AS wkt
         |FROM pts ORDER BY id""".stripMargin,

    "q13_gj_point" ->
      s"""WITH $P
         |SELECT id, '{"coordinates":[' || ((id % 360) - 180) || '.0,' || ((id % 180) - 90)
         |  || '.0],"type":"Point"}' AS gj
         |FROM pts ORDER BY id""".stripMargin,

    "q14_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q15_text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
        |  length(text) - length(replace(text, ' ', '')) AS n_spaces,
        |  length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
        |  (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 100
        |    >= length(text) * 70) AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q16_lang_scores" ->
      s"""WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
         |s AS (SELECT doc_id,
         |    $langScoreSql
         |  FROM t)
         |SELECT doc_id, s_en, s_de, s_fr, s_es,
         |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred
         |FROM s ORDER BY doc_id""".stripMargin,

    "q17_dedup_exact" ->
      """SELECT md5(substr(text, 1, 32)) AS k, count(*) AS n_dups, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_minhash_sig" ->
      s"""WITH $SIG_CTE
         |SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7 FROM sig ORDER BY doc_id""".stripMargin,

    "q19_minhash_pairs" ->
      s"""WITH $SIG_CTE,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
         |    (a.m0 = b.m0 AND a.m1 = b.m1 AND a.m2 = b.m2 AND a.m3 = b.m3) OR
         |    (a.m4 = b.m4 AND a.m5 = b.m5 AND a.m6 = b.m6 AND a.m7 = b.m7)))
         |SELECT id_a, id_b,
         |  (${(0 until 8).map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")}) AS n_agree
         |FROM cand JOIN sig a ON a.doc_id = id_a JOIN sig b ON b.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,

    "q20_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    list_transform(regexp_split_to_array(trim(text), '\\s+'),
         |      tk -> CASE WHEN length(tk) = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(list_reduce([CAST(ord(substr(tk, i, 1)) AS BIGINT) for i in range(1, length(tk) + 1)],
         |                      (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) END) AS hs
         |  FROM documents)
         |SELECT doc_id, $simhashBits AS simhash FROM tok ORDER BY doc_id""".stripMargin,

    "q21_fingerprint" ->
      s"""WITH $SHINGLES_CTE
         |SELECT doc_id, list_min(hs) AS fp FROM sh ORDER BY doc_id""".stripMargin,

    "q22_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |s AS (SELECT query_id, vec_id, list_dot_product(qv, v) AS dot
        |      FROM q CROSS JOIN e WHERE vec_id != query_id),
        |r AS (SELECT query_id, vec_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rank
        |      FROM s)
        |SELECT query_id, rank, vec_id AS neighbor_id FROM r WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "q23_window_counts" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start, event_type,
        |  count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q24_sessions" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (SELECT user_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM y)
        |SELECT user_id, max(sess_id) AS n_sessions, count(*) AS n_events
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "q25_knn" ->
      s"""WITH $P,
         |q AS (SELECT id AS query_id, lon AS qlon, lat AS qlat FROM pts WHERE id % 101 = 0),
         |s AS (SELECT query_id, id,
         |    (qlat - lat) * (qlat - lat) + (qlon - lon) * (qlon - lon) AS dist2
         |  FROM q CROSS JOIN pts WHERE id != query_id),
         |r AS (SELECT query_id, id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, id ASC) AS rank
         |  FROM s)
         |SELECT query_id, rank, id AS neighbor_id FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q26_spatial_join" ->
      s"""WITH $P,
         |boxes AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
         |    -180.0 + (n_nationkey * 67 % 300) AS minx,
         |    -90.0 + (n_nationkey * 37 % 150) AS miny,
         |    -180.0 + (n_nationkey * 67 % 300) + (n_nationkey % 13 + 10) AS maxx,
         |    -90.0 + (n_nationkey * 37 % 150) + (n_nationkey % 11 + 5) AS maxy
         |  FROM nation)
         |SELECT rid, count(*) AS n_points
         |FROM boxes JOIN pts ON lon >= minx AND lon <= maxx AND lat >= miny AND lat <= maxy
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q27/q29: the engine persisted the anchor table (image_id, phash,
    // lon, lat) through the REAL image pipeline; the oracle recomputes the
    // geohash tiling / box join from the STORED columns. The inner join to
    // the expected id set makes missing or malformed rows diverge counts.
    // Anchor coords are dyadic (k/2^32 scalings): every float op in the
    // kernel bisection encoder and in this floor mirror is exact.
    "q27_img_tiles" -> {
      val ids = s"SELECT 'img' || lpad(CAST(i AS VARCHAR), 9, '0') AS image_id " +
        s"FROM range(${Queries.IMG_N}) t(i)"
      s"""WITH a AS (
         |  SELECT x.lon, x.lat
         |  FROM read_parquet('${Queries.ANCHORS_PATH}/*.parquet') x
         |  JOIN ($ids) e USING (image_id)),
         |idx AS (SELECT ${li(2)} AS loni, ${la(2)} AS lati FROM a)
         |SELECT ${gh("loni", "lati", 2)} AS tile, count(*) AS n_images
         |FROM idx GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q29_img_box_join" -> {
      val ids = s"SELECT 'img' || lpad(CAST(i AS VARCHAR), 9, '0') AS image_id " +
        s"FROM range(${Queries.IMG_N}) t(i)"
      s"""WITH a AS (
         |  SELECT x.lon, x.lat
         |  FROM read_parquet('${Queries.ANCHORS_PATH}/*.parquet') x
         |  JOIN ($ids) e USING (image_id)),
         |boxes AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
         |    -180.0 + (n_nationkey * 67 % 300) AS minx,
         |    -90.0 + (n_nationkey * 37 % 150) AS miny,
         |    -180.0 + (n_nationkey * 67 % 300) + (n_nationkey % 13 + 10) AS maxx,
         |    -90.0 + (n_nationkey * 37 % 150) + (n_nationkey % 11 + 5) AS maxy
         |  FROM nation)
         |SELECT rid, count(*) AS n_images
         |FROM boxes JOIN a ON lon >= minx AND lon <= maxx AND lat >= miny AND lat <= maxy
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q31_munge" -> // all four heuristics normalize to the SAME feature string
      s"""WITH $P
         |SELECT id, id % 4 AS branch,
         |  '{"geometry":{"coordinates":[' || ((id % 360) - 180) || '.0,'
         |  || ((id % 180) - 90) || '.0],"type":"Point"},"properties":{"name":"evt' || id
         |  || '"},"type":"Feature"}' AS feature
         |FROM pts ORDER BY id""".stripMargin,

    "q32_parse_wkt" ->
      s"""WITH $P
         |SELECT id, 'wkt' AS kind,
         |  'POINT(' || ((id % 360) - 180) || ' ' || ((id % 180) - 90) || ')' AS wkt,
         |  '{"coordinates":[' || ((id % 360) - 180) || '.0,' || ((id % 180) - 90)
         |    || '.0],"type":"Point"}' AS gj
         |FROM pts ORDER BY id""".stripMargin,

    "q33_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, v, cent_id AS bucket FROM (
        |    SELECT e.vec_id, e.v, c.cent_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) DESC, c.cent_id ASC) AS crank
        |    FROM e CROSS JOIN c) WHERE crank = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |probes AS (
        |  SELECT query_id, qv, cent_id AS bucket FROM (
        |    SELECT q.query_id, q.qv, c.cent_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cent_id ASC) AS prank
        |    FROM q CROSS JOIN c) WHERE prank <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id,
        |    row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY list_dot_product(p.qv, a.v) DESC, a.vec_id ASC) AS rank
        |  FROM probes p JOIN assign a ON p.bucket = a.bucket
        |  WHERE a.vec_id != p.query_id)
        |SELECT query_id, rank, vec_id AS neighbor_id FROM scored WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "q34_curation_pipeline" ->
      s"""WITH $SIG_CTE,
         |keyed AS (SELECT doc_id, md5(substr(text, 1, 32)) AS k FROM documents),
         |exact_keep AS (
         |  SELECT doc_id FROM keyed
         |  WHERE doc_id = (SELECT min(doc_id) FROM keyed k2 WHERE k2.k = keyed.k)),
         |near_losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
         |    (a.m0 = b.m0 AND a.m1 = b.m1 AND a.m2 = b.m2 AND a.m3 = b.m3) OR
         |    (a.m4 = b.m4 AND a.m5 = b.m5 AND a.m6 = b.m6 AND a.m7 = b.m7))
         |  WHERE (${(0 until 8).map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")}) >= 6),
         |quality AS (
         |  SELECT doc_id,
         |    (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 100
         |      >= length(text) * 80) AS quality_ok
         |  FROM documents)
         |SELECT d.doc_id,
         |  (e.doc_id IS NOT NULL) AS exact_kept,
         |  (n.doc_id IS NOT NULL) AS near_dup,
         |  q.quality_ok,
         |  ((e.doc_id IS NOT NULL) AND (n.doc_id IS NULL) AND q.quality_ok) AS kept
         |FROM documents d
         |LEFT JOIN exact_keep e ON d.doc_id = e.doc_id
         |LEFT JOIN near_losers n ON d.doc_id = n.doc_id
         |JOIN quality q ON d.doc_id = q.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // H3 queries: the cell ids are constructed by pure integer math (the
    // SAME expression string runs on both engines); Spark then runs the real
    // icosahedral geometry whose correct outputs are integer-predictable —
    // round-trips return the cell itself / its bit-level parent, disks have
    // fixed counts — so any geometry defect hash-fails against these mirrors.
    "q35_h3_encode" ->
      s"""WITH h3c AS (SELECT event_id AS id, ${OracleSql.H3_CELL_EXPR} AS cell,
         |  CAST(${OracleSql.H3_RES_EXPR} AS INT) AS res, ${OracleSql.H3_PARENT_EXPR} AS parent
         |  FROM events)
         |SELECT id, printf('%x', cell) AS cell_str, printf('%x', cell) AS rt_str,
         |  printf('%x', parent) AS parent_str, res
         |FROM h3c ORDER BY id""".stripMargin,

    "q36_h3_griddisk" ->
      s"""WITH h3c AS (SELECT event_id AS id, ${OracleSql.H3_CELL_EXPR} AS cell FROM events)
         |SELECT id, printf('%x', cell) AS cell_str,
         |  7 AS n_disk, 6 AS n_mutual, 7 AS n_rt, 6 AS n_touch
         |FROM h3c ORDER BY id""".stripMargin,

    "q37_h3_compact" ->
      s"""WITH h3c AS (SELECT event_id AS id, ${OracleSql.H3_CELL_EXPR} AS cell FROM events)
         |SELECT id, 49 AS n_children, 1 AS n_compact, printf('%x', cell) AS compact_str
         |FROM h3c ORDER BY id""".stripMargin,

    "q38_h3_covering" ->
      s"""WITH h3c AS (SELECT event_id AS id, ${OracleSql.H3_CELL_EXPR} AS cell FROM events)
         |SELECT id, printf('%x', cell) AS cell_str, 1 AS n_self_cover,
         |  true AS self_exact, true AS line_has_a, true AS line_has_b
         |FROM h3c ORDER BY id""".stripMargin,

    "q39_h3_pentagon" ->
      s"""WITH h3p AS (SELECT event_id AS id, ${OracleSql.H3_PENT_CELL_EXPR} AS cell,
         |  CAST(${OracleSql.H3_RES_EXPR} AS INT) AS res FROM events)
         |SELECT id, printf('%x', cell) AS cell_str,
         |  5 AS n_neighbors, 6 AS n_disk, 6 AS n_children, true AS rt_ok,
         |  CASE WHEN res % 2 = 1 THEN 10 ELSE 5 END AS n_verts, true AS compact_ok
         |FROM h3p ORDER BY id""".stripMargin,

    "q40_gh_covering" ->
      s"""WITH $P,
         |b AS (SELECT id, lon AS minx, lat AS miny,
         |    lon + 1.0 + (id % 4) * 0.5 AS maxx,
         |    lat + 0.8 + (id % 3) * 0.5 AS maxy
         |  FROM pts
         |  WHERE lat > -85.0 AND lat < 85.0 AND lon > -175.0 AND lon < 175.0
         |    AND ((lon + 180.0) / 360.0) * 256.0 != floor(((lon + 180.0) / 360.0) * 256.0)
         |    AND ((lat + 90.0) / 180.0) * 128.0 != floor(((lat + 90.0) / 180.0) * 128.0)),
         |r AS (SELECT id,
         |    LEAST(CAST(floor(((minx + 180.0) / 360.0) * 256.0) AS BIGINT), 255) AS li0,
         |    LEAST(CAST(floor(((maxx + 180.0) / 360.0) * 256.0) AS BIGINT), 255) AS li1,
         |    LEAST(CAST(floor(((miny + 90.0) / 180.0) * 128.0) AS BIGINT), 127) AS la0,
         |    LEAST(CAST(floor(((maxy + 90.0) / 180.0) * 128.0) AS BIGINT), 127) AS la1
         |  FROM b),
         |cx AS (SELECT id, la0, la1, unnest(range(li0, li1 + 1)) AS loni FROM r),
         |cxy AS (SELECT id, loni, unnest(range(la0, la1 + 1)) AS lati FROM cx)
         |SELECT id, ${gh("loni", "lati", 3)} AS gh FROM cxy ORDER BY id, gh""".stripMargin,

    "q41_centroid" ->
      s"""WITH $P,
         |b AS (SELECT id, lon AS minx, lat AS miny,
         |    lon + 1.0 + (id % 4) * 0.5 AS maxx,
         |    lat + 0.8 + (id % 3) * 0.5 AS maxy
         |  FROM pts
         |  WHERE lat > -85.0 AND lat < 85.0 AND lon > -175.0 AND lon < 175.0)
         |SELECT id, (minx + maxx) / 2.0 AS cx, (miny + maxy) / 2.0 AS cy,
         |  true AS poly_ok, true AS line_ok, true AS point_ok
         |FROM b ORDER BY id""".stripMargin,

    "q42_gj_fc" ->
      """WITH f AS (SELECT event_id AS id, event_id % 97 AS grp,
        |  '{"geometry":{"coordinates":[' || ((event_id % 360) - 180) || '.0,'
        |    || ((event_id % 180) - 90) || '.0],"type":"Point"},"properties":{},"type":"Feature"}' AS feature
        |  FROM events)
        |SELECT grp, '{"features":[' || string_agg(feature, ',' ORDER BY id)
        |  || '],"type":"FeatureCollection"}' AS fc
        |FROM f GROUP BY grp ORDER BY grp""".stripMargin,

    // identical semantics (and oracle) to q26 — the Spark side goes through
    // the Catalyst SpatialJoinRewrite rule instead of the explicit API
    "q43_natural_join" ->
      s"""WITH $P,
         |boxes AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
         |    -180.0 + (n_nationkey * 67 % 300) AS minx,
         |    -90.0 + (n_nationkey * 37 % 150) AS miny,
         |    -180.0 + (n_nationkey * 67 % 300) + (n_nationkey % 13 + 10) AS maxx,
         |    -90.0 + (n_nationkey * 37 % 150) + (n_nationkey % 11 + 5) AS maxy
         |  FROM nation)
         |SELECT rid, count(*) AS n_points
         |FROM boxes JOIN pts ON lon >= minx AND lon <= maxx AND lat >= miny AND lat <= maxy
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // invariants of the real decode->re-encode->decode round trip: the id
    // set is deterministic and both booleans are constants iff the image
    // machinery is correct (pixel values never cross into the output)
    "q44_img_invariants" ->
      s"""SELECT 'img' || lpad(CAST(i AS VARCHAR), 9, '0') AS image_id,
         |  true AS psnr_ok, true AS caption_ok
         |FROM range(${Queries.IMG_N}) t(i) ORDER BY 1""".stripMargin,

    // ground truth = full cross product through the unrolled Vincenty; the
    // coincident-point disjunct mirrors distanceFixed's 0-distance early
    // return (the SQL recurrence yields NaN there)
    "q45_dwithin_join" ->
      s"""WITH $P,
         |q AS (SELECT id AS qid, lon AS qlon, lat AS qlat FROM pts
         |      WHERE id % 211 = 0 AND lat > -80.0 AND lat < 80.0
         |        AND lon > -170.0 AND lon < 170.0),
         |x AS (SELECT p.id, q.qid, p.lon, p.lat, q.qlon, q.qlat FROM pts p CROSS JOIN q),
         |${OracleSql.vincentyCtesExpr("qlon", "qlat", "x",
              Seq("id", "qid", "lon", "lat", "qlon", "qlat"))}
         |SELECT id, qid FROM vfin
         |WHERE (lon = qlon AND lat = qlat) OR meters < ${Queries.DJ_RADIUS}
         |ORDER BY qid, id""".stripMargin,

    // geodesic kNN ground truth: cross product + unrolled Vincenty, ranked
    // by (meters, id); the CASE mirrors distanceFixed's coincident-point
    // 0-distance early return (the SQL recurrence yields NaN there)
    "q46_knn_geodesic" ->
      s"""WITH $P,
         |q AS (SELECT id AS qid, lon AS qlon, lat AS qlat FROM pts
         |      WHERE id % 211 = 0 AND lat > -80.0 AND lat < 80.0
         |        AND lon > -170.0 AND lon < 170.0),
         |x AS (SELECT p.id, q.qid, p.lon, p.lat, q.qlon, q.qlat FROM pts p CROSS JOIN q),
         |${OracleSql.vincentyCtesExpr("qlon", "qlat", "x",
              Seq("id", "qid", "lon", "lat", "qlon", "qlat"))},
         |d AS (SELECT id, qid,
         |        CASE WHEN lon = qlon AND lat = qlat THEN 0.0 ELSE meters END AS m
         |      FROM vfin),
         |r AS (SELECT qid, id,
         |        row_number() OVER (PARTITION BY qid ORDER BY m ASC, id ASC) AS rank
         |      FROM d)
         |SELECT qid, rank, id AS neighbor_id FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,

    // small-radius geofence ground truth: the same cross product through
    // the unrolled Vincenty as q45, over the clustered point set — gates
    // the radius-ADAPTIVE candidate grid (auto bits ≈ 11 at 5 km)
    "q48_dwithin_small" ->
      s"""WITH ${OracleSql.CPTS_CTE},
         |q AS (SELECT id AS qid, lon AS qlon, lat AS qlat FROM cpts WHERE id % 211 = 0),
         |x AS (SELECT p.id, q.qid, p.lon, p.lat, q.qlon, q.qlat FROM cpts p CROSS JOIN q),
         |${OracleSql.vincentyCtesExpr("qlon", "qlat", "x",
              Seq("id", "qid", "lon", "lat", "qlon", "qlat"))}
         |SELECT id, qid FROM vfin
         |WHERE (lon = qlon AND lat = qlat) OR meters < ${Queries.CL_RADIUS}
         |ORDER BY qid, id""".stripMargin,

    // video frame-sample invariants: n_frames from the shared integer hash,
    // n_sampled = ceil(n_frames/3), frames_ok constant-true iff container
    // parse + sampling + lossless PNG decode are all correct
    "q52_video_sample" ->
      s"""WITH v AS (SELECT i, 4 + ((i * 2654435761) % 4294967296) % 8 AS n FROM range(${Queries.VID_N}) t(i))
         |SELECT 'vid' || lpad(CAST(i AS VARCHAR), 9, '0') AS video_id,
         |  CAST(n AS BIGINT) AS n_frames,
         |  CAST((n + ${Queries.VID_STRIDE - 1}) // ${Queries.VID_STRIDE} AS BIGINT) AS n_sampled,
         |  true AS frames_ok
         |FROM v ORDER BY 1""".stripMargin,

    // audio features ground truth: sample values are pure integer hash
    // derivations, so sample count / sum|s| / strict zero crossings over
    // the engine's PARSED WAV bytes are exactly recomputable here
    "q53_audio_features" ->
      s"""WITH a AS (SELECT i AS idx,
         |    512 + ((i * 2654435761) % 4294967296) % 1024 AS n
         |  FROM range(${Queries.AUD_N}) t(i)),
         |s AS (SELECT idx, n, unnest(range(0, n)) AS i FROM a),
         |v AS (SELECT idx, n, i,
         |    ((idx * 2654435761 + i * 40503) % 65536) - 32768 AS s FROM s),
         |w AS (SELECT idx, n, i, s,
         |    lag(s) OVER (PARTITION BY idx ORDER BY i) AS ps FROM v)
         |SELECT 'aud' || lpad(CAST(idx AS VARCHAR), 9, '0') AS audio_id,
         |  CAST(max(n) AS BIGINT) AS n_samples,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |  CAST(sum(CASE WHEN ps IS NOT NULL AND s * ps < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross,
         |  true AS wav_ok
         |FROM w GROUP BY idx ORDER BY 1""".stripMargin,

    // the LEFT ANTI twin of q43 (negated filter at scale, through the
    // Catalyst rewrite): ground truth is the plain NOT EXISTS
    "q51_natural_anti" ->
      s"""WITH $P,
         |boxes AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
         |    -180.0 + (n_nationkey * 67 % 300) AS minx,
         |    -90.0 + (n_nationkey * 37 % 150) AS miny,
         |    -180.0 + (n_nationkey * 67 % 300) + (n_nationkey % 13 + 10) AS maxx,
         |    -90.0 + (n_nationkey * 37 % 150) + (n_nationkey % 11 + 5) AS maxy
         |  FROM nation)
         |SELECT id FROM pts
         |WHERE NOT EXISTS (SELECT 1 FROM boxes
         |  WHERE lon >= minx AND lon <= maxx AND lat >= miny AND lat <= maxy)
         |ORDER BY id""".stripMargin,

    // embedding near-dup ground truth: brute-force ALL O(n^2) cosines —
    // a banded-LSH recall miss (a true pair the candidate join dropped)
    // hash-fails, not just precision errors. The x2.0 scaling is IEEE-exact
    // so the planted near-dups provably share sign signatures.
    "q50_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |all_v AS (
        |  SELECT vec_id, v FROM e
        |  UNION ALL
        |  SELECT vec_id + ${Queries.EMB_OFFSET}, list_transform(v, x -> x * 2.0) FROM e WHERE vec_id % 7 = 0),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        (list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v)))
        |          / sqrt(list_dot_product(b.v, b.v)) AS cos
        |      FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b FROM p WHERE cos >= 0.999 ORDER BY id_a, id_b""".stripMargin,

    // VW-simplify ground truth: the closed-form construction (see
    // Queries.q49SimplifyVw) makes survivors = anchors + teeth with d >= 5;
    // the oracle rebuilds the vertices from the same integer hash math and
    // predicts the surviving count and coordinate checksum exactly
    "q49_simplify_vw" ->
      """WITH h AS (SELECT event_id AS id,
        |    ((event_id * 2654435761) % 4294967296) AS hh FROM events),
        |v AS (SELECT id, hh, unnest(range(0, 17)) AS i FROM h),
        |w AS (SELECT id, i,
        |    CASE WHEN i % 2 = 0 THEN 100 * i * i
        |         ELSE 100 * (i * i + 1) + (1 + ((hh >> (3 * ((i - 1) // 2))) % 8)) END AS y,
        |    CASE WHEN i % 2 = 1
        |           AND (1 + ((hh >> (3 * ((i - 1) // 2))) % 8)) <= 4
        |         THEN 1 ELSE 0 END AS removed
        |  FROM v)
        |SELECT id, CAST(17 AS BIGINT) AS n_before,
        |  CAST(17 - sum(removed) AS BIGINT) AS n_after,
        |  CAST(sum(CASE WHEN removed = 0 THEN i * 1000000 + y ELSE 0 END) AS BIGINT) AS kept_sum
        |FROM w GROUP BY id ORDER BY id""".stripMargin,

    // video near-dup ground truth: the banded frame-hash LSH provably
    // recalls every planted twin (PNG-lossless bit-identical leading
    // frames), the exact pixel-MD5 refine kills everything else, and
    // n_shared = n_frames - 1 comes from the shared integer hash — so the
    // result is exactly the planted (original, twin) pairs
    "q54_video_neardup" ->
      s"""WITH v AS (SELECT i, 4 + ((i * 2654435761) % 4294967296) % 8 AS n
         |  FROM range(${Queries.VID_N}) t(i) WHERE i % 5 = 0)
         |SELECT 'vid' || lpad(CAST(i AS VARCHAR), 9, '0') AS id_a,
         |  'vid' || lpad(CAST(i + ${graft.img.Videos.TWIN_OFFSET} AS VARCHAR), 9, '0') AS id_b,
         |  CAST(n - 1 AS BIGINT) AS n_shared
         |FROM v ORDER BY id_a, id_b""".stripMargin,

    // top-down covering invariants: n_self/self_ok are closed-form (the
    // start search finds the cell itself and emits exactly it); the four
    // multi-res booleans are algorithm invariants (leaf rule, parent
    // emission rule, resolution range, nesting-freedom), constant-true iff
    // the descent/compaction/leaf logic is correct. "expansion ⊇ polyfill"
    // is NOT an invariant (FIXTURES.md §9) and is deliberately absent.
    "q55_topdown_cover" ->
      s"""WITH h3c AS (SELECT event_id AS id, ${OracleSql.H3_CELL_EXPR} AS cell FROM events
         |  WHERE event_id % 5 = 0)
         |SELECT id, printf('%x', cell) AS cell_str, 1 AS n_self,
         |  true AS self_ok, true AS leaves_ok, true AS parent_ok,
         |  true AS range_ok, true AS nest_ok
         |FROM h3c ORDER BY id""".stripMargin,

    // the q48 regime through the CATALYST REWRITE's adaptive grid: plain
    // range join over the clustered points and exact-dyadic sub-degree
    // boxes (all float math exact on both engines)
    "q56_natural_small" ->
      s"""WITH ${OracleSql.CPTS_CTE},
         |b AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
         |    2.0 * ((n_nationkey * 67 % 128) / 128.0) AS minx,
         |    2.0 * ((n_nationkey * 37 % 128) / 128.0) AS miny,
         |    2.0 * ((n_nationkey * 67 % 128) / 128.0) + 0.0625 + (n_nationkey % 5) * 0.03125 AS maxx,
         |    2.0 * ((n_nationkey * 37 % 128) / 128.0) + 0.046875 + (n_nationkey % 3) * 0.03125 AS maxy
         |  FROM nation)
         |SELECT id, rid FROM cpts JOIN b
         |ON lon >= minx AND lon <= maxx AND lat >= miny AND lat <= maxy
         |ORDER BY id, rid""".stripMargin,

    // the bucketed-storage round-trip: the oracle recomputes the packed
    // grid-cell key with the shared floor arithmetic (identical float op
    // order) and replays the co-located join in SQL — any row lost or
    // re-keyed in the write→bucket→read→join path diverges the counts
    "q57_bucketed_join" -> {
      def cellSql: String = {
        val l = 1L << Queries.BKT_BITS
        val cx = s"GREATEST(LEAST(CAST(floor(((lon + 180.0) / 360.0) * $l.0) AS BIGINT), ${l - 1}), 0)"
        val cy = s"GREATEST(LEAST(CAST(floor(((lat + 90.0) / 180.0) * $l.0) AS BIGINT), ${l - 1}), 0)"
        s"($cx * $l + $cy)"
      }
      s"""WITH $P,
         |c AS (SELECT id, $cellSql AS cell FROM pts)
         |SELECT a.cell, count(*) AS n_pairs
         |FROM c a JOIN c b ON a.cell = b.cell AND b.id % 3 = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q58_asof_join" -> // oracle = DuckDB's NATIVE ASOF JOIN — an independent implementation of the semantics
      """SELECT e.event_id, u.update_id
        |FROM events e ASOF JOIN (
        |  SELECT user_id, ts AS uts, event_id AS update_id
        |  FROM events WHERE event_id % 13 = 0) u
        |ON e.user_id = u.user_id AND e.ts >= u.uts
        |ORDER BY e.event_id""".stripMargin,

    "q59_interval_join" -> // exact epoch-microsecond integer arithmetic on both engines
      """WITH iv AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
        |    make_timestamp(1704067200000000 + (n_nationkey * 29 % 720) * 3600000000) AS s,
        |    make_timestamp(1704067200000000 +
        |      ((n_nationkey * 29 % 720) + (n_nationkey % 7 + 1) * 3) * 3600000000) AS e
        |  FROM nation)
        |SELECT ev.event_id AS id, iv.rid
        |FROM events ev JOIN iv ON ev.ts >= iv.s AND ev.ts < iv.e
        |ORDER BY id, rid""".stripMargin,

    "q60_hll_sketch" -> // register/rank recomputed per distinct value; unrolled leading-zeros CASE
      """WITH vals AS (SELECT DISTINCT (event_id * 37) % 1048576 AS v FROM events),
        |m1 AS (SELECT v, (v * 2654435761) & 4294967295 AS a, (v * 2246822519) & 4294967295 AS b FROM vals),
        |m2 AS (SELECT v, xor(a, a >> 16) AS a, xor(b, b >> 16) AS b FROM m1),
        |m3 AS (SELECT v, (a * 49979693) & 4294967295 AS a, (b * 57885161) & 4294967295 AS b FROM m2),
        |h AS (SELECT xor(a, a >> 15) >> 24 AS reg, xor(b, b >> 15) AS h2 FROM m3),
        |r AS (SELECT reg, max(CASE RANK_CASE ELSE 33 END) AS rnk FROM h GROUP BY reg)
        |SELECT gs.register, COALESCE(r.rnk, 0) AS rank
        |FROM (SELECT unnest(range(0, 256)) AS register) gs
        |LEFT JOIN r ON r.reg = gs.register
        |ORDER BY register""".stripMargin.replace("RANK_CASE", "WHEN h2 >= 2147483648 THEN 1 WHEN h2 >= 1073741824 THEN 2 WHEN h2 >= 536870912 THEN 3 WHEN h2 >= 268435456 THEN 4 WHEN h2 >= 134217728 THEN 5 WHEN h2 >= 67108864 THEN 6 WHEN h2 >= 33554432 THEN 7 WHEN h2 >= 16777216 THEN 8 WHEN h2 >= 8388608 THEN 9 WHEN h2 >= 4194304 THEN 10 WHEN h2 >= 2097152 THEN 11 WHEN h2 >= 1048576 THEN 12 WHEN h2 >= 524288 THEN 13 WHEN h2 >= 262144 THEN 14 WHEN h2 >= 131072 THEN 15 WHEN h2 >= 65536 THEN 16 WHEN h2 >= 32768 THEN 17 WHEN h2 >= 16384 THEN 18 WHEN h2 >= 8192 THEN 19 WHEN h2 >= 4096 THEN 20 WHEN h2 >= 2048 THEN 21 WHEN h2 >= 1024 THEN 22 WHEN h2 >= 512 THEN 23 WHEN h2 >= 256 THEN 24 WHEN h2 >= 128 THEN 25 WHEN h2 >= 64 THEN 26 WHEN h2 >= 32 THEN 27 WHEN h2 >= 16 THEN 28 WHEN h2 >= 8 THEN 29 WHEN h2 >= 4 THEN 30 WHEN h2 >= 2 THEN 31 WHEN h2 >= 1 THEN 32"),

    "q61_simhash_pairs" -> // brute-force all-pairs hamming over the mirrored 64-bit simhash
      simhash64PairsSql,

    "q79_natural_hamming" -> // same ground truth as q61 — through the REWRITTEN natural SQL plan
      simhash64PairsSql,

    "q62_jaccard_pairs" -> // brute-force all-pairs exact Jaccard (recall misses hash-fail)
      s"""WITH $SHINGLES_CTE,
         |d AS (SELECT doc_id, list_distinct(hs) AS s FROM sh WHERE doc_id % 4 = 0),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.s, b.s)) AS shared, len(a.s) AS na, len(b.s) AS nb
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, shared FROM p
         |WHERE 9 * shared >= 4 * (na + nb)
         |ORDER BY id_a, id_b""".stripMargin,

    "q64_natural_interval" -> // same ground truth as q59 — through the REWRITTEN natural SQL plan
      """WITH iv AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
        |    make_timestamp(1704067200000000 + (n_nationkey * 29 % 720) * 3600000000) AS s,
        |    make_timestamp(1704067200000000 +
        |      ((n_nationkey * 29 % 720) + (n_nationkey % 7 + 1) * 3) * 3600000000) AS e
        |  FROM nation)
        |SELECT ev.event_id AS id, iv.rid
        |FROM events ev JOIN iv ON ev.ts >= iv.s AND ev.ts < iv.e
        |ORDER BY id, rid""".stripMargin,

    "q63_components" -> // independent fixpoint: min id over the recursive reachability closure
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id,
         |    list_transform(regexp_split_to_array(trim(text), '\\s+'),
         |      tk -> CASE WHEN length(tk) = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(list_reduce([CAST(ord(substr(tk, i, 1)) AS BIGINT) for i in range(1, length(tk) + 1)],
         |                      (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) END) AS hs
         |  FROM documents),
         |s AS (SELECT doc_id, $simhashBits AS sim FROM tok),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sim, b.sim)) <= 1),
         |e AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
         |r AS (
         |  SELECT doc_id AS v, doc_id AS l FROM s
         |  UNION
         |  SELECT e.b AS v, r.l FROM r JOIN e ON e.a = r.v
         |)
         |SELECT v AS doc_id, min(l) AS component FROM r
         |GROUP BY v ORDER BY doc_id""".stripMargin,

    "q47_box_join" ->
      s"""WITH $P,
         |a AS (SELECT id, lon AS minx, lat AS miny,
         |    lon + 1.0 + (id % 4) * 0.5 AS maxx,
         |    lat + 0.8 + (id % 3) * 0.5 AS maxy
         |  FROM pts
         |  WHERE id % 17 = 0 AND lat > -85.0 AND lat < 85.0
         |    AND lon > -175.0 AND lon < 175.0),
         |b AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
         |    -180.0 + (n_nationkey * 67 % 300) AS bminx,
         |    -90.0 + (n_nationkey * 37 % 150) AS bminy,
         |    -180.0 + (n_nationkey * 67 % 300) + (n_nationkey % 13 + 10) AS bmaxx,
         |    -90.0 + (n_nationkey * 37 % 150) + (n_nationkey % 11 + 5) AS bmaxy
         |  FROM nation)
         |SELECT id, rid FROM a JOIN b
         |ON minx <= bmaxx AND maxx >= bminx AND miny <= bmaxy AND maxy >= bminy
         |ORDER BY id, rid""".stripMargin,

    "q65_packing" -> // independent fixpoint: recursive CTE walks each shard row by row
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, doc_id % 8 AS shard, n_chars % 90 + 10 AS tok
        |  FROM documents),
        |o AS (SELECT doc_id, shard, tok,
        |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |  FROM base),
        |walk AS (
        |  SELECT shard, rn, doc_id, tok, CAST(0 AS BIGINT) AS bin,
        |      CAST(0 AS BIGINT) AS bin_offset, tok AS fill
        |    FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.tok,
        |      CASE WHEN w.fill + o.tok > 96 THEN w.bin + 1 ELSE w.bin END,
        |      CASE WHEN w.fill + o.tok > 96 THEN CAST(0 AS BIGINT) ELSE w.fill END,
        |      CASE WHEN w.fill + o.tok > 96 THEN o.tok ELSE w.fill + o.tok END
        |    FROM walk w JOIN o ON o.shard = w.shard AND o.rn = w.rn + 1)
        |SELECT doc_id, shard, bin, bin_offset FROM walk ORDER BY doc_id""".stripMargin,

    "q66_mixing" -> // the mix re-rendered constant-for-constant; range() emits the copies
      """WITH w AS (SELECT doc_id, source,
        |    CAST(substr(source, 4) AS BIGINT) % 8 * 375 AS weight_milli
        |  FROM documents),
        |m1 AS (SELECT *, (doc_id * 2654435761) & 4294967295 AS a FROM w),
        |m2 AS (SELECT doc_id, source, weight_milli, xor(a, a >> 16) AS a2 FROM m1),
        |m3 AS (SELECT doc_id, source, weight_milli,
        |    (a2 * 49979693) & 4294967295 AS a3 FROM m2),
        |mx AS (SELECT doc_id, source, weight_milli, xor(a3, a3 >> 15) AS h FROM m3),
        |c AS (SELECT doc_id, source, weight_milli,
        |    weight_milli // 1000
        |      + CASE WHEN h % 1000 < weight_milli % 1000 THEN 1 ELSE 0 END AS n
        |  FROM mx)
        |SELECT doc_id, source, weight_milli,
        |  CAST(unnest(range(0, n)) AS BIGINT) AS copy
        |FROM c WHERE n > 0 ORDER BY doc_id, copy""".stripMargin,

    "q67_quantiles" -> // the definition itself: full sort, joined at the target ranks
      """WITH base AS (
        |  SELECT event_id * 2654435761 % 100000000 - 50000000 AS v FROM events),
        |n AS (SELECT count(*) AS c FROM base),
        |vals AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM base),
        |qs(q_num, q_den) AS (VALUES (1, 100), (1, 4), (1, 2), (3, 4), (99, 100), (1, 1)),
        |r AS (SELECT CAST(q_num AS BIGINT) AS q_num, CAST(q_den AS BIGINT) AS q_den,
        |    (c * q_num + q_den - 1) // q_den AS rank FROM qs, n)
        |SELECT r.q_num, r.q_den, r.rank, vals.v AS value
        |FROM r JOIN vals ON vals.rn = r.rank
        |ORDER BY rank, q_num, q_den""".stripMargin,

    "q68_bloom" -> // every probe recomputed: two mix chains + double-hash index, bit_or per word
      """WITH vals AS (SELECT DISTINCT (event_id * 37) % 4096 AS v FROM events),
        |m1 AS (SELECT v, (v * 2654435761) & 4294967295 AS a, (v * 2246822519) & 4294967295 AS b FROM vals),
        |m2 AS (SELECT v, xor(a, a >> 16) AS a, xor(b, b >> 16) AS b FROM m1),
        |m3 AS (SELECT v, (a * 49979693) & 4294967295 AS a, (b * 57885161) & 4294967295 AS b FROM m2),
        |h AS (SELECT xor(a, a >> 15) AS h1, xor(b, b >> 15) AS h2 FROM m3),
        |probes AS (SELECT (h1 + i * h2) % 65536 AS idx FROM h, unnest(range(0, 4)) t(i)),
        |b AS (SELECT idx // 32 AS word_idx,
        |    bit_or(CAST(1 AS BIGINT) << CAST(idx % 32 AS INTEGER)) AS word_value
        |  FROM probes GROUP BY 1)
        |SELECT gs.word_idx, COALESCE(b.word_value, 0) AS word_value
        |FROM (SELECT unnest(range(0, 2048)) AS word_idx) gs
        |LEFT JOIN b USING (word_idx)
        |ORDER BY word_idx""".stripMargin,

    "q69_decontam" -> // the FULL exact n-gram join: a bloom false negative hash-fails
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams AS (SELECT doc_id, list_aggr(w[i:i+2], 'string_agg', ' ') AS g
        |  FROM docs, unnest(range(1, len(w) - 1)) t(i)),
        |eval AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
        |SELECT doc_id, count(DISTINCT grams.g) AS n_hits
        |FROM grams JOIN eval USING (g)
        |WHERE doc_id % 97 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q70_repetition" -> // the definition: unnest -> group -> max count, per doc
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(greatest(len(w) - 1, 0) AS BIGINT) AS n_bigrams FROM docs),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM docs),
        |tcounts AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |tc AS (SELECT doc_id, count(*) AS n_distinct_tokens,
        |    max(c) AS top_token_count FROM tcounts GROUP BY 1),
        |bg AS (SELECT doc_id, list_aggr(w[i:i+1], 'string_agg', ' ') AS g
        |  FROM docs, unnest(range(1, len(w))) t(i)),
        |bcounts AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |bc AS (SELECT doc_id, count(*) AS n_distinct_bigrams,
        |    max(c) AS top_bigram_count FROM bcounts GROUP BY 1)
        |SELECT base.doc_id, base.n_tokens, tc.n_distinct_tokens, tc.top_token_count,
        |  base.n_bigrams,
        |  COALESCE(bc.n_distinct_bigrams, 0) AS n_distinct_bigrams,
        |  COALESCE(bc.top_bigram_count, 0) AS top_bigram_count,
        |  (tc.top_token_count * 4 <= base.n_tokens
        |    AND COALESCE(bc.top_bigram_count, 0) * 10 <= base.n_bigrams) AS repetition_ok
        |FROM base JOIN tc USING (doc_id) LEFT JOIN bc USING (doc_id)
        |ORDER BY base.doc_id""".stripMargin,

    "q71_bpe_tokens" -> // same portable char-class pattern, RE2 side
      """WITH t AS (SELECT doc_id,
        |    concat(text, ' v', CAST(doc_id AS VARCHAR), '!?.') AS s
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(s, '[A-Za-z]+')) AS n_alpha_runs,
        |  len(regexp_extract_all(s, '[0-9]')) AS n_digit_tokens,
        |  len(regexp_extract_all(s, '[^A-Za-z0-9 ]+')) AS n_punct_runs,
        |  len(regexp_extract_all(s, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+')) AS n_bpe_tokens
        |FROM t ORDER BY doc_id""".stripMargin,

    "q72_sample_domain" -> // the definition: row_number over the mirrored mix
      """WITH m1 AS (SELECT doc_id, source, (doc_id * 2654435761) & 4294967295 AS a FROM documents),
        |m2 AS (SELECT doc_id, source, xor(a, a >> 16) AS a2 FROM m1),
        |m3 AS (SELECT doc_id, source, (a2 * 49979693) & 4294967295 AS a3 FROM m2),
        |mx AS (SELECT doc_id, source, xor(a3, a3 >> 15) AS h FROM m3),
        |r AS (SELECT doc_id, source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
        |  FROM mx)
        |SELECT source, doc_id, h AS ord, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin,

    "q73_redact" -> // same chain, same EMAIL->PHONE->IP order, per-stage counts;
      // 'g' flag (DuckDB defaults to first-match)
      """WITH s0 AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '-' END AS sep
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    concat(text, ' contact w', CAST(doc_id AS VARCHAR), '.doe+t@ex-',
        |      CAST(doc_id % 9 AS VARCHAR), '.com or +1', sep,
        |      CAST(doc_id % 1000 AS VARCHAR), sep,
        |      CAST(doc_id * 7 % 10000 AS VARCHAR), sep,
        |      CAST(doc_id * 3 % 100 AS VARCHAR),
        |      ' from 10.', CAST(doc_id % 256 AS VARCHAR), '.',
        |      CAST(doc_id * 3 % 256 AS VARCHAR), '.',
        |      CAST(doc_id * 7 % 256 AS VARCHAR),
        |      CASE WHEN doc_id % 2 = 0 THEN ' cc ops2@corp.net' ELSE '' END) AS s
        |  FROM s0),
        |e AS (SELECT doc_id, s,
        |    regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[A-Za-z0-9]',
        |      '<EMAIL>', 'g') AS after_email FROM t),
        |p AS (SELECT doc_id, s, after_email,
        |    regexp_replace(after_email, '\+[0-9][0-9.-]+[0-9]',
        |      '<PHONE>', 'g') AS after_phone FROM e)
        |SELECT doc_id,
        |  len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[A-Za-z0-9]')) AS n_emails,
        |  len(regexp_extract_all(after_phone, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS n_ips,
        |  len(regexp_extract_all(after_email, '\+[0-9][0-9.-]+[0-9]')) AS n_phones,
        |  regexp_replace(after_phone, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+',
        |    '<IP>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,

    "q74_norm_dedup" -> // same normalize chain; 'g' flag (DuckDB defaults to first-match)
      """WITH u AS (
        |  SELECT doc_id, text, 'orig' AS variant FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    concat('  ', upper(text), ' ', CAST(doc_id * 7 % 1000 AS VARCHAR),
        |      ', #', CAST(doc_id % 97 AS VARCHAR), '!  ') AS text,
        |    'noisy' AS variant FROM documents),
        |k AS (SELECT doc_id, variant,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z ]', ' ', 'g'), ' +', ' ', 'g'))) AS key_md5
        |  FROM u)
        |SELECT doc_id, variant, key_md5,
        |  COUNT(*) OVER (PARTITION BY key_md5) AS dup_count
        |FROM k ORDER BY doc_id, variant""".stripMargin,

    "q75_url_domains" -> // group-1 extraction; same normalize chain both engines
      """WITH t AS (SELECT doc_id,
        |    concat(text, ' see https://WWW.s', CAST(doc_id % 7 AS VARCHAR),
        |      '.example-', CAST(doc_id % 3 AS VARCHAR),
        |      '.com/p/', CAST(doc_id AS VARCHAR),
        |      ' and http://cdn', CAST(doc_id % 5 AS VARCHAR),
        |      '.net/x?id=', CAST(doc_id AS VARCHAR),
        |      CASE WHEN doc_id % 4 = 0
        |        THEN ' plus https://Mirror.example-0.com/q' ELSE '' END,
        |      ' ref https://deploy@Www.mirror', CAST(doc_id % 2 AS VARCHAR),
        |      '.example-', CAST(doc_id % 3 AS VARCHAR), '.com./z') AS s
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    unnest(regexp_extract_all(s, 'https?://(?:[^/@\s]*@)?([A-Za-z0-9.-]+)', 1)) AS host
        |  FROM t),
        |n AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(host), '\.$', ''), '^www\.', '') AS host FROM h),
        |a AS (SELECT doc_id,
        |    CASE WHEN regexp_matches(host, '^[0-9.]+$') THEN host
        |      ELSE coalesce(nullif(regexp_extract(host,
        |        '([a-z0-9-]+\.[a-z0-9-]+)$', 1), ''), host) END AS apex
        |  FROM n)
        |SELECT apex, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs,
        |  MIN(doc_id) AS keeper
        |FROM a GROUP BY apex ORDER BY apex""".stripMargin,

    "q76_dedup_pipeline" -> // the WHOLE composition, independently: normalize chain in
      // SQL, exact-group reps, mirrored 64-bit fingerprint halves, brute-force
      // all-pairs hamming, recursive-CTE min-label reachability fixpoint
      s"""WITH RECURSIVE u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT d.doc_id + 100000 AS doc_id,
         |    concat('  ', upper(d.text), ' ', CAST(d.doc_id * 7 % 1000 AS VARCHAR),
         |      ', #', CAST(d.doc_id % 97 AS VARCHAR), '!  ') AS text
         |  FROM documents d),
         |nrm AS (SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
         |      ' +', ' ', 'g')) AS ntext
         |  FROM u),
         |reps AS (SELECT ntext, min(doc_id) AS rep FROM nrm GROUP BY ntext),
         |wr AS (SELECT n.doc_id, r.rep FROM nrm n JOIN reps r ON n.ntext = r.ntext),
         |tok64 AS (
         |  SELECT rep AS doc_id,
         |    ${simhash64Tok("hs1", 2654435761L, 49979693L, "ntext")},
         |    ${simhash64Tok("hs2", 2246822519L, 57885161L, "ntext")}
         |  FROM reps),
         |s AS ($simhash64Halves),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
         |e AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
         |r AS (
         |  SELECT doc_id AS v, doc_id AS l FROM s
         |  UNION
         |  SELECT e.b AS v, r.l FROM r JOIN e ON e.a = r.v
         |),
         |comp AS (SELECT v AS rep, min(l) AS component FROM r GROUP BY v)
         |SELECT wr.doc_id, comp.component AS keeper
         |FROM wr JOIN comp ON wr.rep = comp.rep
         |ORDER BY doc_id""".stripMargin,

    "q77_bpe_tokens" -> // REPLAY the identical 200-rule merge table (rendered from
      // Bpe.MERGES) over the distinct words: one left-to-right non-overlapping
      // replace per rank step on the '|'-marker representation
      s"""WITH RECURSIVE $bpeTokCtes
         |SELECT w.doc_id, CAST(sum(fin.ntok) AS BIGINT) AS n_bpe,
         |  CAST(count(*) AS BIGINT) AS n_ws
         |FROM w JOIN fin ON w.word = fin.word
         |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin,

    "q81_pack_bpe" -> // the q65 packing fixpoint walked over the q77 BPE token
      // counts: two recursive CTEs composed — merge-table replay, then the
      // per-shard greedy walk — so a divergence in EITHER stage hash-fails
      s"""WITH RECURSIVE $bpeTokCtes,
         |d AS (SELECT w.doc_id, CAST(sum(fin.ntok) AS BIGINT) AS tok
         |  FROM w JOIN fin ON w.word = fin.word GROUP BY w.doc_id),
         |base AS (SELECT doc_id, doc_id % 8 AS shard, tok FROM d),
         |o AS (SELECT doc_id, shard, tok,
         |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
         |  FROM base),
         |walk AS (
         |  SELECT shard, rn, doc_id, tok, CAST(0 AS BIGINT) AS bin,
         |      CAST(0 AS BIGINT) AS bin_offset, tok AS fill
         |    FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.rn, o.doc_id, o.tok,
         |      CASE WHEN w.fill + o.tok > 512 THEN w.bin + 1 ELSE w.bin END,
         |      CASE WHEN w.fill + o.tok > 512 THEN CAST(0 AS BIGINT) ELSE w.fill END,
         |      CASE WHEN w.fill + o.tok > 512 THEN o.tok ELSE w.fill + o.tok END
         |    FROM walk w JOIN o ON o.shard = w.shard AND o.rn = w.rn + 1)
         |SELECT doc_id, shard, bin, bin_offset FROM walk ORDER BY doc_id""".stripMargin,

    "q78_psl_domains" -> // same plants; the fixture replayed as a longest-rule-first CASE
      s"""WITH t AS (SELECT doc_id,
         |    concat(text,
         |      ' see https://shop', CAST(doc_id % 5 AS VARCHAR),
         |      '.brand', CAST(doc_id % 7 AS VARCHAR), '.co.uk/x',
         |      ' and http://WWW.news', CAST(doc_id % 3 AS VARCHAR), '.com.au/y',
         |      ' via https://a', CAST(doc_id % 2 AS VARCHAR), '.b.ck/z',
         |      CASE WHEN doc_id % 3 = 0 THEN ' plus https://co.uk/bare' ELSE '' END,
         |      CASE WHEN doc_id % 4 = 0 THEN ' not http://x.www.ck/e' ELSE '' END,
         |      CASE WHEN doc_id % 6 = 0 THEN ' int https://intranet/p' ELSE '' END,
         |      ' ip http://10.0.0.', CAST(doc_id % 9 AS VARCHAR), '/q',
         |      ' de https://site', CAST(doc_id % 4 AS VARCHAR), '.de/') AS s
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    unnest(regexp_extract_all(s, 'https?://(?:[^/@\\s]*@)?([A-Za-z0-9.-]+)', 1)) AS host
         |  FROM t),
         |n AS (SELECT doc_id,
         |    regexp_replace(regexp_replace(lower(host), '\\.$$', ''), '^www\\.', '') AS host FROM h),
         |a AS (SELECT doc_id,
         |    CASE WHEN regexp_matches(host, '^[0-9.]+$$') THEN host
         |      $pslApexWhens
         |      ELSE coalesce(nullif(regexp_extract(host,
         |        '([a-z0-9-]+\\.[a-z0-9-]+)$$', 1), ''), host) END AS apex
         |  FROM n)
         |SELECT apex, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs,
         |  MIN(doc_id) AS keeper
         |FROM a GROUP BY apex ORDER BY apex""".stripMargin,

    "q80_redact_clean" -> // CLOSED-FORM: the plants are clean by construction, so the
      // ground truth is literal zeros — any engine false positive hash-fails
      """SELECT doc_id, 0 AS n_emails, 0 AS n_ips, 0 AS n_phones,
        |  true AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q82_quality_floor" -> // threshold recomputed DEFINITIONALLY: full sort,
      // row_number, the value at rank ceil(n/10); integer-division score
      """WITH s AS (SELECT doc_id,
        |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10000
        |      // greatest(length(text), 1) AS score
        |  FROM documents),
        |r AS (SELECT score, row_number() OVER (ORDER BY score) AS rn FROM s),
        |t AS (SELECT score AS thr FROM r
        |  WHERE rn = (SELECT (count(*) + 9) // 10 FROM s))
        |SELECT doc_id, score, score >= (SELECT thr FROM t) AS kept
        |FROM s ORDER BY doc_id""".stripMargin,

    "q83_hash_split" -> // the mix re-rendered constant-for-constant + cumulative CASE
      """WITH m1 AS (SELECT doc_id, source,
        |    (doc_id * 2654435761) & 4294967295 AS a FROM documents),
        |m2 AS (SELECT doc_id, source, xor(a, a >> 16) AS a2 FROM m1),
        |m3 AS (SELECT doc_id, source, (a2 * 49979693) & 4294967295 AS a3 FROM m2),
        |mx AS (SELECT doc_id, source, xor(a3, a3 >> 15) % 1000 AS h FROM m3)
        |SELECT doc_id, source,
        |  CASE WHEN h < 900 THEN 'train' WHEN h < 950 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM mx ORDER BY doc_id""".stripMargin,

    "q84_decontam_neardup" -> // brute-force NOT EXISTS over the mirrored 64-bit halves
      s"""WITH tok64 AS (
         |  SELECT doc_id,
         |    ${simhash64Tok("hs1", 2654435761L, 49979693L)},
         |    ${simhash64Tok("hs2", 2246822519L, 57885161L)}
         |  FROM documents),
         |s AS ($simhash64Halves),
         |ev AS (SELECT lo, hi FROM s WHERE doc_id % 7 = 0)
         |SELECT s.doc_id FROM s
         |WHERE NOT EXISTS (SELECT 1 FROM ev
         |  WHERE bit_count(xor(s.lo, ev.lo)) + bit_count(xor(s.hi, ev.hi)) <= 3)
         |ORDER BY doc_id""".stripMargin,

    "q85_tfidf" -> // tf, df, integer score, and windowed rank recomputed definitionally
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * 1000000 // df.df AS score FROM tf JOIN df USING (term)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS rank FROM s)
        |SELECT doc_id, term, tf, df, score, rank FROM r
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q86_simhash128_pairs" -> // brute-force all-pairs over the four mirrored 32-bit words
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, concat('  ', text, ' ') FROM documents),
         |tok128 AS (
         |  SELECT doc_id,
         |    ${simhash64Tok("hs1", 2654435761L, 49979693L)},
         |    ${simhash64Tok("hs2", 2246822519L, 57885161L)},
         |    ${simhash64Tok("hs3", 3266489917L, 39916801L)},
         |    ${simhash64Tok("hs4", 1540483477L, 23456789L)}
         |  FROM d),
         |s AS (SELECT doc_id, ${simhashBitsOf("hs1")} AS w1, ${simhashBitsOf("hs2")} AS w2,
         |    ${simhashBitsOf("hs3")} AS w3, ${simhashBitsOf("hs4")} AS w4 FROM tok128)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.w1, b.w1)) + bit_count(xor(a.w2, b.w2)) +
         |  bit_count(xor(a.w3, b.w3)) + bit_count(xor(a.w4, b.w4)) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.w1, b.w1)) + bit_count(xor(a.w2, b.w2)) +
         |  bit_count(xor(a.w3, b.w3)) + bit_count(xor(a.w4, b.w4)) <= 7
         |ORDER BY id_a, id_b""".stripMargin,
  )
}
