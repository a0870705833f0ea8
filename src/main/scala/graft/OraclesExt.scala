package graft

/** DuckDB oracle SQL for the extension operators (text analysis, dedup,
  * similarity, events) — textual twins of [[graft.ext]] (same parity rules as
  * [[Oracles]]).
  *
  * DuckDB deltas worth remembering:
  *  - regexp_replace needs the 'g' flag (Spark replaces globally by default)
  *  - list lambdas: list_filter / list_transform / list_reduce;
  *    list_reduce has no init value → seed via list_prepend
  *  - len() for lists, length() for strings
  */
object OraclesExt {
  private def R(e: String, k: Int): String = s"FLOOR(($e) * 1e$k + 0.5) / 1e$k"

  /** Tokens incl. empties — twin of Text.tokens. */
  private val toks = "string_split(text, ' ')"
  private def hits(words: Seq[String]): String =
    s"len(list_filter($toks, w -> w IN (${words.map("'" + _ + "'").mkString(",")})))"

  /** Twin of Text.rollingHash. */
  private def rollhash(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (h, c) -> (h * 131 + c) % 2147483647)""".stripMargin

  import graft.ext.Text.{Markers, Stopwords, BpePattern}

  val textStats: String = {
    val nTok = s"CAST(len($toks) AS BIGINT)"
    val nChars = "CAST(length(text) AS BIGINT)"
    val punct = s"$nChars - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))"
    val stopRatio = s"CAST(${hits(Stopwords)} AS DOUBLE) / $nTok"
    val punctRatio = s"CAST($punct AS DOUBLE) / $nChars"
    val uniqRatio = s"CAST(len(list_distinct($toks)) AS DOUBLE) / $nTok"
    s"""SELECT doc_id, lang, source,
       |  $nChars AS n_chars_measured,
       |  $nTok AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens,
       |  ${R(s"CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / $nTok", 2)} AS avg_token_len,
       |  ${R(stopRatio, 4)} AS stopword_ratio,
       |  ${R(punctRatio, 4)} AS punct_ratio,
       |  ${R(uniqRatio, 4)} AS uniq_token_ratio,
       |  ${R(s"LEAST(CAST($nTok AS DOUBLE), 1e2) / 100 * 3e-1" +
            s" + LEAST(($stopRatio) * 5, 1e0) * 2e-1" +
            s" + GREATEST(1e0 - ($punctRatio) * 10, 0e0) * 2e-1" +
            s" + ($uniqRatio) * 3e-1", 4)} AS quality_score
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  val textLangid: String = {
    val hitCols = Markers.map { case (l, ws) => s"CAST(${hits(ws)} AS INTEGER) AS ${l}_hits" }
    val best = Markers.map(l => s"${l._1}_hits").mkString("GREATEST(", ", ", ")")
    val arms = Markers.map { case (l, _) => s"WHEN ${l}_hits = best THEN '$l'" }
    s"""WITH h AS (
       |  SELECT doc_id, lang AS declared_lang, ${hitCols.mkString(",\n    ")}
       |  FROM documents),
       |b AS (SELECT *, $best AS best FROM h)
       |SELECT doc_id, declared_lang, ${Markers.map(l => s"${l._1}_hits").mkString(", ")},
       |  CASE WHEN best = 0 THEN 'und' ${arms.mkString(" ")} ELSE 'und' END AS predicted_lang
       |FROM b
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Text.langIdConfusion — the [[textLangid]] classifier
    * re-aggregated to (declared, predicted) grain. */
  val textLangidConfusion: String = {
    val hitCols = Markers.map { case (l, ws) => s"${hits(ws)} AS ${l}_hits" }
    val best = Markers.map(l => s"${l._1}_hits").mkString("GREATEST(", ", ", ")")
    val arms = Markers.map { case (l, _) => s"WHEN ${l}_hits = best THEN '$l'" }
    s"""WITH h AS (
       |  SELECT doc_id, lang AS declared_lang, ${hitCols.mkString(",\n    ")}
       |  FROM documents),
       |b AS (SELECT *, $best AS best FROM h),
       |p AS (SELECT declared_lang,
       |    CASE WHEN best = 0 THEN 'und' ${arms.mkString(" ")} ELSE 'und' END AS predicted_lang
       |  FROM b),
       |g AS (SELECT declared_lang, predicted_lang, count(*) AS n_docs
       |  FROM p GROUP BY 1, 2),
       |t AS (SELECT *, sum(n_docs) OVER (PARTITION BY declared_lang) AS declared_total
       |  FROM g)
       |SELECT declared_lang, predicted_lang, CAST(n_docs AS BIGINT) AS n_docs,
       |  ${R("100.0 * CAST(n_docs AS DOUBLE) / CAST(declared_total AS DOUBLE)", 4)} AS pct_of_declared,
       |  declared_lang = predicted_lang AS is_correct
       |FROM t
       |ORDER BY declared_lang, predicted_lang""".stripMargin
  }

  val textFingerprint: String =
    s"""SELECT doc_id,
       |  ${rollhash("text")} AS fingerprint,
       |  ${rollhash("trim(regexp_replace(text, ' +', ' ', 'g'))")} AS fingerprint_normalized,
       |  md5(text) AS md5_hex
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  val textLengthQuantiles: String =
    s"""SELECT lang,
       |  count(*) AS n_docs,
       |  ${R("quantile_cont(n_chars, 0.5)", 2)} AS p50_chars,
       |  ${R("quantile_cont(n_chars, 0.9)", 2)} AS p90_chars,
       |  ${R("quantile_cont(n_chars, 0.99)", 2)} AS p99_chars,
       |  min(n_chars) AS min_chars,
       |  max(n_chars) AS max_chars
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  val textBigramFrequency: String =
    s"""SELECT bigram,
       |  count(*) AS occurrences,
       |  count(DISTINCT doc_id) AS doc_frequency
       |FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(0, len(t) - 2),
       |    i -> array_to_string(t[i+1:i+2], ' '))) AS bigram
       |  FROM (SELECT doc_id, $toks AS t FROM documents)
       |  WHERE len(t) >= 2)
       |GROUP BY bigram
       |ORDER BY bigram""".stripMargin

  /** Twin of Text.bpeMergeCandidates — adjacent character-pair frequencies
    * at distinct-token grain weighted by token corpus counts, top-K by
    * (count DESC, a, b). 1-indexed substring and character len() agree with
    * Spark on the ASCII fixture (and on UTF-8 generally: both count
    * characters). */
  val textBpeMerges: String = {
    import graft.ext.Text.BpeTopMerges
    s"""WITH tok AS (SELECT unnest(list_filter($toks, x -> x <> '')) AS token
       |  FROM documents),
       |tc AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
       |pairs AS (
       |  SELECT substring(token, CAST(i AS INT), 1) AS a,
       |    substring(token, CAST(i AS INT) + 1, 1) AS b, c
       |  FROM (SELECT token, c,
       |      unnest(generate_series(1, len(token) - 1)) AS i
       |    FROM tc WHERE len(token) >= 2))
       |SELECT a, b, CAST(SUM(c) AS BIGINT) AS pair_count
       |FROM pairs GROUP BY a, b
       |ORDER BY pair_count DESC, a, b LIMIT $BpeTopMerges""".stripMargin
  }

  /** Twin of Text.bpeTokenize — mine the merge table exactly as
    * [[textBpeMerges]] does, rank it, then apply the merges in rank order
    * with a recursive CTE: iteration i's state is the symbol string after
    * merge i. Both engines encode a token as space-wrapped symbol units
    * (`regexp_replace(token,'(.)',' \1 ')`) and apply each merge as ONE
    * non-overlapping left-to-right literal `replace` — parity is
    * structural, not numeric. Encoding runs at distinct-token grain. */
  val textBpeTokenize: String = bpeTokenizeSql("TRUE")

  /** Twin of Text.bpeTokenizeFrozen — identical chain, merge table mined
    * only on the deterministic mixHash-parity train half. */
  val textBpeFrozen: String = bpeTokenizeSql(s"${mixSql("doc_id")} % 2 = 0")

  /** The BPE encode chain parameterized by the MINING split: `mineCond`
    * restricts which documents' tokens feed the merge table; vocabulary,
    * apply, and the per-doc report always cover the whole corpus (a
    * frozen table applied to unseen data simply no-ops on absent pairs).
    * The TRUE (unsplit) case emits NO mining filter at all (ADVICE r13):
    * `doc_id IN (...)` would silently drop NULL-id documents' tokens from
    * merge mining — NULL never satisfies IN — while the Spark twin mines
    * them; the split cases are NULL-consistent by construction (a NULL
    * doc_id fails `mixHash % 2 = 0` in both engines). */
  private def bpeTokenizeSql(mineCond: String): String = {
    import graft.ext.Text.BpeTopMerges
    val mineWhere = if (mineCond.trim == "TRUE") ""
      else s"\n  WHERE doc_id IN (SELECT doc_id FROM documents WHERE $mineCond)"
    s"""WITH RECURSIVE tok AS (
       |  SELECT doc_id, unnest(list_filter($toks, x -> x <> '')) AS token
       |  FROM documents),
       |tc AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok$mineWhere
       |  GROUP BY token),
       |pairs AS (
       |  SELECT substring(token, CAST(i AS INT), 1) AS a,
       |    substring(token, CAST(i AS INT) + 1, 1) AS b, c
       |  FROM (SELECT token, c, unnest(generate_series(1, len(token) - 1)) AS i
       |    FROM tc WHERE len(token) >= 2)),
       |merges AS (
       |  SELECT a, b,
       |    CAST(row_number() OVER (ORDER BY pair_count DESC, a, b) AS BIGINT) AS r
       |  FROM (SELECT a, b, SUM(c) AS pair_count FROM pairs GROUP BY a, b
       |    ORDER BY pair_count DESC, a, b LIMIT $BpeTopMerges)),
       |vocab AS (SELECT DISTINCT token FROM tok),
       |apply AS (
       |  SELECT token, regexp_replace(token, '(.)', ' \\1 ', 'g') AS sym,
       |    CAST(0 AS BIGINT) AS r
       |  FROM vocab
       |  UNION ALL
       |  SELECT a.token,
       |    replace(a.sym, ' ' || m.a || '  ' || m.b || ' ',
       |      ' ' || m.a || m.b || ' '), a.r + 1
       |  FROM apply a JOIN merges m ON m.r = a.r + 1),
       |enc AS (
       |  SELECT token,
       |    CAST((length(sym) - length(replace(sym, ' ', ''))) // 2 AS BIGINT) AS n_bpe
       |  FROM apply WHERE r = (SELECT count(*) FROM merges))
       |SELECT t.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(t.token)) AS BIGINT) AS n_chars,
       |  CAST(SUM(e.n_bpe) AS BIGINT) AS n_bpe_tokens,
       |  ${R("CAST(SUM(length(t.token)) AS DOUBLE) / CAST(SUM(e.n_bpe) AS DOUBLE)", 4)}
       |    AS chars_per_bpe_token
       |FROM tok t JOIN enc e USING (token)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Twin of Text.cmsHeavyHitters — bigram extraction exactly as
    * [[textBigramFrequency]]; the same [[rollhash]] fold salted by row
    * index places every bigram in the identical (row, bucket) cell;
    * counters sum bigram counts per cell, the estimate is the min over the
    * bigram's CmsDepth cells. */
  val textCmsHeavyHitters: String = {
    import graft.ext.Text.{CmsDepth, CmsWidth, CmsTopK}
    s"""WITH bg AS (
       |  SELECT unnest(list_transform(
       |    generate_series(0, len(t) - 2),
       |    i -> array_to_string(t[i+1:i+2], ' '))) AS bigram
       |  FROM (SELECT $toks AS t FROM documents)
       |  WHERE len(t) >= 2),
       |tc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bigram),
       |h AS (
       |  SELECT bigram, c, r,
       |    ${rollhash("CAST(r AS VARCHAR) || ':' || bigram")} % $CmsWidth AS bucket
       |  FROM tc CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS r)),
       |counters AS (
       |  SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS cnt
       |  FROM h GROUP BY r, bucket),
       |est AS (
       |  SELECT h.bigram, max(h.c) AS exact_count, min(k.cnt) AS cms_estimate
       |  FROM h JOIN counters k USING (r, bucket)
       |  GROUP BY h.bigram)
       |SELECT bigram, CAST(exact_count AS BIGINT) AS exact_count,
       |  CAST(cms_estimate AS BIGINT) AS cms_estimate,
       |  cms_estimate > exact_count AS overestimated
       |FROM est
       |ORDER BY cms_estimate DESC, bigram LIMIT $CmsTopK""".stripMargin
  }

  /** Twin of Text.cmsIndexed — the deployment probe: the same grid CTEs
    * as [[textCmsHeavyHitters]], but the estimate comes from a LEFT join
    * of candidate cells against the counters with COALESCE 0 (the sparse
    * probe contract of cmsEstimateOver) and no exact side. Candidates are
    * batch-derived here, so every cell is present and the result agrees
    * with the batch twin's (bigram, cms_estimate) top-K. */
  val textCmsIndexed: String = {
    import graft.ext.Text.{CmsDepth, CmsWidth, CmsTopK}
    s"""WITH bg AS (
       |  SELECT unnest(list_transform(
       |    generate_series(0, len(t) - 2),
       |    i -> array_to_string(t[i+1:i+2], ' '))) AS bigram
       |  FROM (SELECT $toks AS t FROM documents)
       |  WHERE len(t) >= 2),
       |tc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bigram),
       |h AS (
       |  SELECT bigram, c, r,
       |    ${rollhash("CAST(r AS VARCHAR) || ':' || bigram")} % $CmsWidth AS bucket
       |  FROM tc CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS r)),
       |counters AS (
       |  SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS cnt
       |  FROM h GROUP BY r, bucket),
       |est AS (
       |  SELECT h.bigram, min(COALESCE(k.cnt, 0)) AS cms_estimate
       |  FROM h LEFT JOIN counters k USING (r, bucket)
       |  GROUP BY h.bigram)
       |SELECT bigram, CAST(cms_estimate AS BIGINT) AS cms_estimate
       |FROM est
       |ORDER BY cms_estimate DESC, bigram LIMIT $CmsTopK""".stripMargin
  }

  val textTopTfidf: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($toks) AS token FROM documents),
       |nz AS (SELECT doc_id, token FROM toks WHERE token <> ''),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM nz GROUP BY doc_id, token),
       |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM nz GROUP BY token),
       |scored AS (
       |  SELECT tf.doc_id, tf.token, tf.tf,
       |    tf.tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / dfreq.df) AS tfidf
       |  FROM tf JOIN dfreq ON tf.token = dfreq.token),
       |ranked AS (
       |  SELECT doc_id, token, tf, tfidf,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token)
       |      AS INTEGER) AS "rank"
       |  FROM scored)
       |SELECT doc_id, token, tf, ${R("tfidf", 4)} AS tfidf, "rank"
       |FROM ranked WHERE "rank" <= 5
       |ORDER BY doc_id, "rank"""".stripMargin

  val textTokenFrequency: String =
    s"""SELECT token,
       |  COUNT(*) AS occurrences,
       |  COUNT(DISTINCT doc_id) AS doc_frequency
       |FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |WHERE token <> ''
       |GROUP BY token
       |ORDER BY token""".stripMargin

  // ------------------------------------------------------------ dedup twins

  import graft.ext.Dedup.{P, ShingleK, Perms, MinhashK, Bands, RowsPerBand,
    JaccardThreshold, SimhashBits, SimhashMaxHamming, SimhashChunks, CosineThreshold}
  import graft.ext.Similarity.{Dim, TopK, LshBits, LshTables, MixA, MixB, M31, M32}

  val dedupCanonicalCorpus: String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
       |ORDER BY doc_id""".stripMargin

  /** Twin of Dedup.nearDupFiltered — the minhash query as a CTE, anti-joined. */
  lazy val dedupNearDupFiltered: String =
    s"""WITH pairs AS ($dedupMinhashLsh)
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
       |ORDER BY doc_id""".stripMargin

  val dedupExact: String =
    s"""SELECT md5(text) AS md5_hex, min(doc_id) AS canonical_doc_id,
       |  count(*) AS n_copies
       |FROM documents GROUP BY md5(text) ORDER BY md5_hex""".stripMargin

  /** Twin of Dedup.incrementalNew — the bloom prefilter is a plan detail
    * (no false negatives + exact confirm join ⇒ bit-equal to the plain
    * anti-join this SQL states), so the twin needs no bloom at all. */
  lazy val dedupIncrementalNew: String = {
    import graft.ext.Dedup.StorePct
    s"""WITH keyed AS (
       |  SELECT doc_id, md5(text) AS md5_hex,
       |    ${mixSql("doc_id")} % 100 AS b
       |  FROM documents),
       |store AS (SELECT DISTINCT md5_hex FROM keyed WHERE b < $StorePct),
       |incoming AS (SELECT doc_id, md5_hex FROM keyed WHERE b >= $StorePct)
       |SELECT i.md5_hex, min(i.doc_id) AS doc_id,
       |  count(*) AS n_copies_in_batch
       |FROM incoming i
       |WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.md5_hex = i.md5_hex)
       |GROUP BY i.md5_hex
       |ORDER BY md5_hex""".stripMargin
  }

  /** Twin of Dedup.shingles: distinct word-ShingleK-shingles per doc.
    * DuckDB list slice t[a:b] is 1-based inclusive = Spark slice(t, a, K). */
  private val shinglesCte =
    s"""sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(0, len(t) - $ShingleK),
       |      i -> array_to_string(t[i+1:i+$ShingleK], ' ')))) AS shingle
       |  FROM (SELECT doc_id, $toks AS t FROM documents)
       |  WHERE len(t) >= $ShingleK)""".stripMargin

  /** Twin of Dedup.jaccardVerify — exact Jaccard of candidate pairs. */
  private def jaccardVerifySql(candidatesCte: String): String =
    s"""$candidatesCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY c.doc_a, c.doc_b),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    ${R("CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)", 6)} AS jaccard
       |  FROM shared
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM scored
       |WHERE jaccard >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Twin of Dedup.boilerplate — the chunk CTE chain re-keyed on
    * distinct-doc chunk frequency. */
  val dedupBoilerplate: String = {
    val C = graft.ext.Dedup.ChunkTokens
    val K = graft.ext.Dedup.BoilerplateDf
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |c AS (SELECT doc_id, CAST(len(toks) // $C AS BIGINT) AS n_chunks, toks FROM t),
       |ix AS (SELECT doc_id, toks, unnest(generate_series(1, CAST(n_chunks AS INT))) AS i
       |  FROM c WHERE n_chunks > 0),
       |occ AS (SELECT doc_id,
       |    array_to_string(list_slice(toks, (i - 1) * $C + 1, i * $C), ' ') AS chunk
       |  FROM ix),
       |cdf AS (SELECT chunk, count(DISTINCT doc_id) AS cdf FROM occ GROUP BY chunk),
       |agg AS (
       |  SELECT o.doc_id, count(*) AS n_chunks,
       |    CAST(SUM(CASE WHEN f.cdf > $K THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_boilerplate_chunks
       |  FROM occ o JOIN cdf f USING (chunk) GROUP BY o.doc_id)
       |SELECT doc_id, n_chunks, n_boilerplate_chunks,
       |  ${R("CAST(n_boilerplate_chunks AS DOUBLE) / n_chunks", 4)} AS boilerplate_fraction,
       |  n_boilerplate_chunks > 0 AS has_boilerplate
       |FROM agg
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Dedup.containmentPairs — the same capped candidate machinery
    * with the containment prune; values via full-set verify (the engine's
    * exact arm equals the full-set value by construction, so the twin needs
    * no arm split). */
  val dedupContainment: String = {
    import graft.ext.Dedup.{ContainmentThreshold, MaxShingleDf}
    s"""WITH $shinglesCte,
       |wdf AS (
       |  SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh),
       |szs AS (
       |  SELECT doc_id, count(*) AS n,
       |    count(CASE WHEN df > $MaxShingleDf THEN 1 END) AS n_hot
       |  FROM wdf GROUP BY doc_id),
       |rare AS (SELECT doc_id, shingle FROM wdf WHERE df <= $MaxShingleDf),
       |sharedr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_rare
       |  FROM rare a JOIN rare b USING (shingle) WHERE a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |cand AS (
       |  SELECT doc_a, doc_b
       |  FROM sharedr
       |  JOIN szs sa ON doc_a = sa.doc_id
       |  JOIN szs sb ON doc_b = sb.doc_id
       |  WHERE CAST(shared_rare + LEAST(sa.n_hot, sb.n_hot) AS DOUBLE)
       |    / LEAST(sa.n, sb.n) >= $ContainmentThreshold),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY c.doc_a, c.doc_b),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    ${R("CAST(shared AS DOUBLE) / LEAST(sa.n, sb.n)", 6)} AS containment,
       |    ${R("CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)", 6)} AS jaccard
       |  FROM shared
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, containment, jaccard FROM scored
       |WHERE containment >= $ContainmentThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Twin of Dedup.ngramJaccardPairs — replays the identical capped
    * algorithm: rare-shingle candidate join, hot-count upper-bound prune,
    * exact full-set verify. */
  val dedupNgramJaccard: String = {
    val cap = graft.ext.Dedup.MaxShingleDf
    s"""WITH $shinglesCte,
       |${jaccardVerifySql(
        s"""wdf AS (
          |  SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh),
          |szs AS (
          |  SELECT doc_id, count(*) AS n,
          |    count(CASE WHEN df > $cap THEN 1 END) AS n_hot
          |  FROM wdf GROUP BY doc_id),
          |rare AS (SELECT doc_id, shingle FROM wdf WHERE df <= $cap),
          |sharedr AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_rare
          |  FROM rare a JOIN rare b USING (shingle) WHERE a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id),
          |cand AS (
          |  SELECT doc_a, doc_b
          |  FROM sharedr
          |  JOIN szs sa ON doc_a = sa.doc_id
          |  JOIN szs sb ON doc_b = sb.doc_id
          |  WHERE CAST(shared_rare + LEAST(sa.n_hot, sb.n_hot) AS DOUBLE)
          |    / (sa.n + sb.n - shared_rare - LEAST(sa.n_hot, sb.n_hot))
          |    >= $JaccardThreshold)""".stripMargin)}""".stripMargin
  }

  /** Twin of Dedup.minhashSignatures + bandBucket: 32 Lehmer-permutation
    * minhashes over rolling-hashed shingles, folded into 8 band buckets. */
  val dedupMinhashLsh: String = {
    val mins = Perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $P) AS mh$i"
    }
    val bandSelects = (0 until Bands).map { band =>
      val fold = (0 until RowsPerBand).foldLeft("CAST(0 AS BIGINT)") {
        (acc, r) => s"(($acc) * 1000003 + mh${band * RowsPerBand + r}) % $P"
      }
      s"SELECT doc_id, $band AS band, $fold AS bucket FROM sigs"
    }
    s"""WITH $shinglesCte,
       |hashes AS (SELECT doc_id, ${rollhash("shingle")} AS h FROM sh),
       |sigs AS (SELECT doc_id, ${mins.mkString(",\n  ")} FROM hashes GROUP BY doc_id),
       |bands AS (${bandSelects.mkString("\n  UNION ALL ")}),
       |${jaccardVerifySql(
        """cand AS (
          |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          |  FROM bands x JOIN bands y USING (band, bucket)
          |  WHERE x.doc_id < y.doc_id)""".stripMargin)}""".stripMargin
  }

  /** Twin of Dedup.sourceOverlap — per-source distinct shingle-hash sets,
    * exact pairwise Jaccard, and the same 32-perm min-signature match
    * estimate (all-integer mins ⇒ bit-equal across engines). */
  lazy val dedupSourceOverlap: String = {
    val mins = Perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $P) AS mh$i"
    }
    val matches = (0 until MinhashK)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shinglesCte,
       |srcsh AS (
       |  SELECT DISTINCT d.source, ${rollhash("shingle")} AS h
       |  FROM sh JOIN documents d USING (doc_id)),
       |sizes AS (SELECT source, count(*) AS n FROM srcsh GROUP BY source),
       |sigs AS (SELECT source, ${mins.mkString(",\n  ")} FROM srcsh GROUP BY source),
       |shr AS (
       |  SELECT x.source AS source_a, y.source AS source_b, count(*) AS shared
       |  FROM srcsh x JOIN srcsh y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2),
       |grid AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    sa.n AS n_a, sb.n AS n_b, ($matches) AS mm
       |  FROM sigs a JOIN sigs b ON a.source < b.source
       |  JOIN sizes sa ON sa.source = a.source
       |  JOIN sizes sb ON sb.source = b.source)
       |SELECT g.source_a, g.source_b, g.n_a, g.n_b,
       |  COALESCE(s.shared, 0) AS shared,
       |  ${R("CAST(COALESCE(s.shared, 0) AS DOUBLE) / (g.n_a + g.n_b - COALESCE(s.shared, 0))", 6)} AS jaccard,
       |  CAST(g.mm AS DOUBLE) / $MinhashK AS minhash_est
       |FROM grid g LEFT JOIN shr s USING (source_a, source_b)
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** Twin of Dedup.sourceOverlapEstimate — the signature CTEs of the full
    * twin, minus the exact arm. */
  lazy val dedupSourceOverlapEst: String = {
    val mins = Perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $P) AS mh$i"
    }
    val matches = (0 until MinhashK)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shinglesCte,
       |srcsh AS (
       |  SELECT DISTINCT d.source, ${rollhash("shingle")} AS h
       |  FROM sh JOIN documents d USING (doc_id)),
       |sigs AS (SELECT source, ${mins.mkString(",\n  ")} FROM srcsh GROUP BY source)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(($matches) AS DOUBLE) / $MinhashK AS minhash_est
       |FROM sigs a JOIN sigs b ON a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** Twin of Dedup.simhashSignatures/simhashPairs: 32-bit weighted-vote
    * signature, 8-bit-chunk pigeonhole candidates, hamming verify. */
  val dedupSimhash: String = {
    val bits = (0 until SimhashBits).map { j =>
      s"(CASE WHEN SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }
    s"""WITH th AS (
       |  SELECT doc_id, ${rollhash("tkn")} AS h
       |  FROM (SELECT doc_id, unnest($toks) AS tkn FROM documents)
       |  WHERE tkn <> ''),
       |sigs AS (SELECT doc_id, ${bits.mkString(" +\n  ")} AS simhash FROM th GROUP BY doc_id),
       |chunks AS (
       |  SELECT doc_id, simhash, c.chunk, (simhash >> (c.chunk * 8)) & 255 AS v
       |  FROM sigs CROSS JOIN (VALUES ${(0 until SimhashChunks).map(c => s"($c)").mkString(",")}) c(chunk)),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
       |  FROM chunks x JOIN chunks y ON x.chunk = y.chunk AND x.v = y.v
       |  WHERE x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= $SimhashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------------- similarity twins

  /** Twin of Similarity.withNorm: float→double promotion (exact), L2 norm
    * folded in index order — identical IEEE op sequence to Spark. */
  private val normCte =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |    (a, b) -> a + b)) AS norm
       |  FROM e)""".stripMargin

  /** Index-ordered dot product fold — twin of Similarity.dot. */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(
       |    generate_series(1, $Dim), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin

  /** [[dotSql]] at an explicit length (the JL arms work in RpDims ≠ Dim). */
  private def dotSqlN(a: String, b: String, n: Int): String =
    s"""list_reduce(list_prepend(0.0, list_transform(
       |    generate_series(1, $n), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin

  val dedupEmbeddingCosine: String =
    s"""WITH $normCte,
       |scored AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${R(s"(${dotSql("a.v", "b.v")}) / (a.norm * b.norm)", 6)} AS cosine
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cosine FROM scored
       |WHERE cosine >= $CosineThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Twin of Dedup.chunkSpans: identical chunking (1-based list_slice on the
    * space-split tokens) and the same count-over-chunk duplicate flag. */
  val dedupChunkSpans: String = {
    val C = graft.ext.Dedup.ChunkTokens
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |c AS (SELECT doc_id, CAST(len(toks) // $C AS BIGINT) AS n_chunks, toks FROM t),
       |ix AS (SELECT doc_id, toks, unnest(generate_series(1, CAST(n_chunks AS INT))) AS i
       |  FROM c WHERE n_chunks > 0),
       |occ AS (SELECT doc_id,
       |    array_to_string(list_slice(toks, (i - 1) * $C + 1, i * $C), ' ') AS chunk
       |  FROM ix),
       |flag AS (SELECT doc_id, count(*) OVER (PARTITION BY chunk) AS occ_n FROM occ),
       |agg AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN occ_n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
       |  FROM flag GROUP BY doc_id)
       |SELECT c.doc_id, c.n_chunks,
       |  COALESCE(a.dup_chunks, 0) AS dup_chunks,
       |  CASE WHEN c.n_chunks > 0
       |    THEN ${R("CAST(COALESCE(a.dup_chunks, 0) AS DOUBLE) / c.n_chunks", 4)}
       |  END AS dup_chunk_fraction,
       |  COALESCE(a.dup_chunks, 0) > 0 AS has_dup_span
       |FROM c LEFT JOIN agg a USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin
  }

  /** Twin of Dedup.semanticDedup: the simAnnIvf coarse-quantizer CTEs
    * (per-label decimal-mean centroids, nearest-centroid assignment) feeding
    * a within-cluster pair scan and the keep-lowest-id verdict. */
  val dedupSemantic: String =
    s"""WITH $normCte,
       |nl AS (SELECT n.vec_id, n.v, n.norm, e2.label
       |  FROM n JOIN embeddings e2 ON e2.vec_id = n.vec_id),
       |cent AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(v[i] AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS c
       |  FROM nl, (SELECT unnest(generate_series(1, $Dim)) AS i) AS dims
       |  GROUP BY label, i),
       |centv AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
       |centn AS (SELECT label, cv,
       |  sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x * x)),
       |    (a, b) -> a + b)) AS cnorm
       |  FROM centv),
       |scored AS (
       |  SELECT a.vec_id, a.v, a.norm, c.label,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY (${dotSql("a.v", "c.cv")}) / (a.norm * c.cnorm) DESC, c.label) AS crank
       |  FROM nl a CROSS JOIN centn c),
       |asg AS (SELECT label AS cluster, vec_id, v, norm FROM scored WHERE crank = 1),
       |dups AS (SELECT DISTINCT b.vec_id AS dup_id
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${R(s"(${dotSql("a.v", "b.v")}) / (a.norm * b.norm)", 6)} >= $CosineThreshold)
       |SELECT a.vec_id, a.cluster, d.dup_id IS NULL AS kept
       |FROM asg a LEFT JOIN dups d ON d.dup_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** Twin of Dedup.semanticDedupKmeans: the [[kmeansCtes]] label-free
    * quantizer feeding the identical within-cluster pair scan and
    * keep-lowest-id verdict as [[dedupSemantic]]. */
  val dedupSemanticKmeans: String = {
    import graft.ext.Similarity.KmeansIters
    s"""WITH $normCte,
       |$kmeansCtes,
       |scored AS (
       |  SELECT x.vec_id, x.v, x.norm, c.cl,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY (${dotSql("x.v", "c.cv")}) / (x.norm * c.cnorm) DESC, c.cl) AS crank
       |  FROM n x CROSS JOIN c$KmeansIters c),
       |asg AS (SELECT cl AS cluster, vec_id, v, norm FROM scored WHERE crank = 1),
       |dups AS (SELECT DISTINCT b.vec_id AS dup_id
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${R(s"(${dotSql("a.v", "b.v")}) / (a.norm * b.norm)", 6)} >= $CosineThreshold)
       |SELECT a.vec_id, a.cluster, d.dup_id IS NULL AS kept
       |FROM asg a LEFT JOIN dups d ON d.dup_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  private def topKSql(pairsCte: String): String =
    s"""$pairsCte,
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS "rank"
       |  FROM p)
       |SELECT query_id, neighbor_id, cosine, "rank" FROM ranked
       |WHERE "rank" <= $TopK
       |ORDER BY query_id, "rank"""".stripMargin

  val simKnnBruteForce: String =
    s"""WITH $normCte,
       |${topKSql(
        s"""p AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    ${R(s"(${dotSql("a.v", "b.v")}) / (a.norm * b.norm)", 6)} AS cosine
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id)""".stripMargin)}""".stripMargin

  /** Twin of Similarity.dequantized: per-vector symmetric int8 grid,
    * ⌊x/scale + 0.5⌋ clamp ±127, dequantized back to doubles. */
  private val dequantCte = {
    import graft.ext.Similarity.QuantLevels
    s"""$normCte,
       |sc AS (
       |  SELECT vec_id, v, norm,
       |    (CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0.0 THEN 1.0
       |          ELSE list_max(list_transform(v, x -> abs(x))) / $QuantLevels END) AS scale
       |  FROM n),
       |dq AS (
       |  SELECT vec_id, v, norm, scale,
       |    list_transform(generate_series(1, $Dim), i ->
       |      GREATEST(-$QuantLevels.0, LEAST($QuantLevels.0,
       |        FLOOR(v[i] / scale + 0.5))) * scale) AS dv
       |  FROM sc),
       |dn AS (
       |  SELECT vec_id, v, norm, scale, dv,
       |    sqrt(${dotSql("dv", "dv")}) AS dnorm
       |  FROM dq)""".stripMargin
  }

  /** Twin of Similarity.quantizedKnn. */
  val simQuantizedKnn: String =
    s"""WITH $dequantCte,
       |${topKSql(
        s"""p AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    ${R(s"(${dotSql("a.dv", "b.dv")}) / (a.dnorm * b.dnorm)", 6)} AS cosine
           |  FROM dn a JOIN dn b ON a.vec_id <> b.vec_id)""".stripMargin)}""".stripMargin

  /** Twin of Similarity.quantizationError. */
  val simQuantizationError: String =
    s"""WITH $dequantCte
       |SELECT vec_id, scale,
       |  ${R(s"list_max(list_transform(generate_series(1, $Dim), i -> abs(v[i] - dv[i])))", 6)}
       |    AS max_abs_err,
       |  ${R(s"(${dotSql("v", "dv")}) / (norm * dnorm)", 6)} AS cosine_orig_deq
       |FROM dn
       |ORDER BY vec_id""".stripMargin

  /** Twin of Similarity.embeddingTableChecks — identical filter-size
    * element predicates, one multi-aggregate pass + one full-outer parity
    * join. */
  val qualityEmbeddings: String = {
    val nf = "x IS NULL OR isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 1e308"
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |one AS (SELECT
       |    CAST(count(*) AS BIGINT) AS _n,
       |    CAST(count(CASE WHEN embedding IS NULL THEN 1 END) AS BIGINT) AS _null,
       |    CAST(count(CASE WHEN embedding IS NOT NULL
       |      AND len(embedding) <> $Dim THEN 1 END) AS BIGINT) AS _dim,
       |    CAST(count(CASE WHEN embedding IS NOT NULL
       |      AND len(list_filter(embedding, x -> $nf)) > 0 THEN 1 END) AS BIGINT) AS _nf,
       |    CAST(count(CASE WHEN embedding IS NOT NULL
       |      AND len(list_filter(embedding, x -> CAST(x AS DOUBLE) <> 0.0)) = 0
       |      THEN 1 END) AS BIGINT) AS _zero,
       |    CAST(count(CASE WHEN vec_id IS NULL THEN 1 END) AS BIGINT) AS _nullid,
       |    CAST(count(vec_id) - count(DISTINCT vec_id) AS BIGINT) AS _dup
       |  FROM e),
       |par AS (SELECT
       |    CAST(count(CASE WHEN v.vec_id IS NULL THEN 1 END) AS BIGINT) AS _no_vec,
       |    CAST(count(CASE WHEN d.doc_id IS NULL THEN 1 END) AS BIGINT) AS _no_doc
       |  FROM (SELECT doc_id FROM documents) d
       |  FULL JOIN (SELECT vec_id FROM e WHERE vec_id IS NOT NULL) v
       |    ON d.doc_id = v.vec_id),
       |u AS (
       |  SELECT 'embeddings.empty_table' AS check_name,
       |    CASE WHEN _n = 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
       |      AS violations FROM one
       |  UNION ALL SELECT 'embeddings.null_vector', _null FROM one
       |  UNION ALL SELECT 'embeddings.wrong_dim', _dim FROM one
       |  UNION ALL SELECT 'embeddings.non_finite_vector', _nf FROM one
       |  UNION ALL SELECT 'embeddings.zero_vector', _zero FROM one
       |  UNION ALL SELECT 'embeddings.null_vec_id', _nullid FROM one
       |  UNION ALL SELECT 'embeddings.duplicate_vec_id', _dup FROM one
       |  UNION ALL SELECT 'documents.missing_vector', _no_vec FROM par
       |  UNION ALL SELECT 'embeddings.orphan_vector', _no_doc FROM par)
       |SELECT check_name, violations,
       |  CASE WHEN violations = 0 THEN 'PASS' ELSE 'FAIL' END AS status
       |FROM u
       |ORDER BY check_name""".stripMargin
  }

  /** Twin of Similarity.rpProject: 16 projection components, each a
    * [[dotSql]]-ordered fold of v against the splitmix ±1 component with
    * plane = RpPlaneBase + j (unrolled per j like [[simAnnLsh]]'s tables;
    * the flat index is plane·Dim + i with DuckDB's 1-based i), divided by
    * the IEEE-exact √RpDims = 4. pnorm mirrors normCte's fold shape. */
  /** The projection CTEs alone (pj, pn reading from an existing `n`) —
    * reused over the planted corpus by [[simRpRecallPlanted]]. */
  private val rpProjBody = {
    import graft.ext.Similarity.{RpDims, RpPlaneBase}
    def comp(j: Int): String = {
      val h0 = s"((${(RpPlaneBase + j).toLong * Dim} + i) * $MixA % $M32)"
      val m = s"(xor($h0, $h0 >> 16) % $M31)"
      val h1 = s"($m * $MixB % $M32)"
      s"(CASE WHEN (($h1 >> 15) % 2) = 0 THEN 1.0 ELSE -1.0 END)"
    }
    def proj(j: Int): String =
      s"""list_reduce(list_prepend(0.0, list_transform(
         |      generate_series(1, $Dim), i -> v[i] * ${comp(j)})), (x, y) -> x + y)
         |      / sqrt(${RpDims}.0)""".stripMargin
    val ps = (0 until RpDims).map(proj).mkString(",\n    ")
    s"""pj AS (SELECT vec_id, norm, list_value(
       |    $ps) AS p FROM n),
       |pn AS (SELECT vec_id, norm, p,
       |  sqrt(list_reduce(list_prepend(0.0, list_transform(p, x -> x * x)),
       |    (a, b) -> a + b)) AS pnorm
       |  FROM pj)""".stripMargin
  }

  private val rpProjCte = s"""$normCte,
       |$rpProjBody""".stripMargin

  /** Twin of Similarity.rpDistortion — the flag applies the bound to the
    * ROUNDED ratio, exactly like the Spark side. */
  val simRpDistortion: String = {
    import graft.ext.Similarity.RpDistortionBound
    s"""WITH $rpProjCte
       |SELECT vec_id, ${R("norm", 6)} AS norm, ${R("pnorm", 6)} AS rp_norm,
       |  ${R("pnorm / norm", 6)} AS rp_norm_ratio,
       |  abs(${R("pnorm / norm", 6)} - 1.0) <= $RpDistortionBound AS distortion_ok
       |FROM pn
       |ORDER BY vec_id""".stripMargin
  }

  /** Twin of Similarity.rpKnn — exact top-K in the projected space. */
  val simRpKnn: String = {
    import graft.ext.Similarity.RpDims
    s"""WITH $rpProjCte,
       |${topKSql(
        s"""p AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    ${R(s"(${dotSqlN("a.p", "b.p", RpDims)}) / (a.pnorm * b.pnorm)", 6)} AS cosine
           |  FROM pn a JOIN pn b ON a.vec_id <> b.vec_id)""".stripMargin)}""".stripMargin
  }

  /** Twin of Similarity.srpSignature/annLsh: hyperplane component for
    * (plane, 0-based dim i) = sign of Lehmer hash of flat index plane·Dim+i;
    * one signature per table, OR-amplified candidate union. */
  val simAnnLsh: String = {
    def tableSig(t: Int): String = (0 until LshBits).map { j =>
      val plane = t * LshBits + j
      // flat index: plane·Dim + (i−1) + 1 = plane·Dim + i with DuckDB's 1-based i
      val h0 = s"(($plane * $Dim + i) * $MixA % $M32)"
      val m = s"(xor($h0, $h0 >> 16) % $M31)"
      val h1 = s"($m * $MixB % $M32)"
      val comp = s"(CASE WHEN (($h1 >> 15) % 2) = 0 THEN 1.0 ELSE -1.0 END)"
      val proj =
        s"""list_reduce(list_prepend(0.0, list_transform(
           |      generate_series(1, $Dim), i -> v[i] * $comp)), (x, y) -> x + y)""".stripMargin
      s"(CASE WHEN ($proj) >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString(" +\n  ")
    val sigCols = (0 until LshTables).map(t => s"${tableSig(t)} AS s$t").mkString(",\n  ")
    val bandSelects = (0 until LshTables)
      .map(t => s"SELECT vec_id, $t AS t, s$t AS sig FROM s").mkString("\n  UNION ALL ")
    s"""WITH $normCte,
       |s AS (SELECT vec_id, $sigCols FROM n),
       |bands AS (${bandSelects}),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
       |  FROM bands x JOIN bands y USING (t, sig) WHERE x.vec_id <> y.vec_id),
       |${topKSql(
        s"""p AS (
           |  SELECT query_id, neighbor_id,
           |    ${R(s"(${dotSql("a.v", "b.v")}) / (a.norm * b.norm)", 6)} AS cosine
           |  FROM cand JOIN n a ON a.vec_id = query_id JOIN n b ON b.vec_id = neighbor_id)""".stripMargin)}""".stripMargin
  }

  /** Twin of LshCal.calibrationGrid: [[graft.ext.LshCal.TablesMax]] full
    * [[graft.ext.LshCal.BitsMax]]-bit SRP signatures per vector (planes
    * laid out t·BitsMax+j, same hash family as [[simAnnLsh]]), the shared
    * deterministic query sample + exact sampled top-K, then per grid config
    * the masked-prefix collision recall and the (table × signature)
    * histogram union-bound cost, with the identical feasibility/choice
    * policy. */
  val simLshCalibration: String = {
    import graft.ext.LshCal.{BitsMax, TablesMax, GridBits, GridTables, CostCapPct}
    import graft.ext.Similarity.{CalQueries, RecallTargetPct}
    def proj(t: Int, j: Int): String = {
      val p = t * BitsMax + j
      // flat index: p·Dim + (i−1) + 1 = p·Dim + i with DuckDB's 1-based i
      val h0 = s"(($p * $Dim + i) * $MixA % $M32)"
      val m = s"(xor($h0, $h0 >> 16) % $M31)"
      val h1 = s"($m * $MixB % $M32)"
      val comp = s"(CASE WHEN (($h1 >> 15) % 2) = 0 THEN 1.0 ELSE -1.0 END)"
      s"""list_reduce(list_prepend(0.0, list_transform(
         |      generate_series(1, $Dim), i -> v[i] * $comp)), (x, y) -> x + y)""".stripMargin
    }
    def tableSig(t: Int): String = (0 until BitsMax).map { j =>
      s"(CASE WHEN (${proj(t, j)}) >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString(" +\n  ")
    val sigList = (0 until TablesMax).map(t => s"(${tableSig(t)})")
      .mkString("[\n  ", ",\n  ", "]")
    val gridVals = GridBits.flatMap(b => GridTables.map(l =>
      s"($b, $l, ${(1L << b) - 1})")).mkString(", ")
    s"""WITH $normCte,
       |sigs AS (SELECT vec_id, $sigList AS sigs FROM n),
       |grid AS (SELECT * FROM (VALUES $gridVals) g(bits, tables, mask)),
       |calq AS (SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY ${mixSql("vec_id")}, vec_id) AS rk
       |    FROM n) WHERE rk <= $CalQueries),
       |cex AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} DESC, x.vec_id) AS rk
       |    FROM n q JOIN calq cq ON cq.vec_id = q.vec_id
       |    JOIN n x ON x.vec_id <> q.vec_id) WHERE rk <= $TopK),
       |qs AS (SELECT s.vec_id AS query_id, s.sigs AS qsigs
       |  FROM sigs s JOIN calq c ON c.vec_id = s.vec_id),
       |prs AS (SELECT ex.query_id, ex.neighbor_id, q.qsigs, s2.sigs AS nsigs
       |  FROM cex ex JOIN qs q ON q.query_id = ex.query_id
       |  JOIN sigs s2 ON s2.vec_id = ex.neighbor_id),
       |rec AS (
       |  SELECT bits, tables, mask,
       |    CAST(SUM(CASE WHEN len(list_filter(generate_series(1, $TablesMax),
       |      t -> t <= tables AND (qsigs[t] & mask) = (nsigs[t] & mask))) > 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS recalled,
       |    count(*) AS exact_pairs
       |  FROM prs CROSS JOIN grid GROUP BY 1, 2, 3),
       |bands AS (SELECT vec_id, t, sigs[t] AS sig
       |  FROM sigs, (SELECT unnest(generate_series(1, $TablesMax)) AS t) ts),
       |hist AS (SELECT t, sig, count(*) AS cnt FROM bands GROUP BY t, sig),
       |histg AS (SELECT g.bits, g.tables, h.t, h.sig & g.mask AS msig,
       |    CAST(SUM(cnt) AS BIGINT) AS cnt
       |  FROM hist h CROSS JOIN grid g WHERE h.t <= g.tables GROUP BY 1, 2, 3, 4),
       |qb AS (SELECT g.bits, g.tables, b.t, b.sig & g.mask AS msig
       |  FROM (SELECT query_id, t, qsigs[t] AS sig
       |        FROM qs, (SELECT unnest(generate_series(1, $TablesMax)) AS t) ts) b
       |  CROSS JOIN grid g WHERE b.t <= g.tables),
       |cost AS (SELECT bits, tables, CAST(SUM(cnt) AS BIGINT) AS cand_incl_self
       |  FROM qb JOIN histg USING (bits, tables, t, msig) GROUP BY 1, 2),
       |nc AS (SELECT count(*) AS n_corpus FROM n),
       |nq AS (SELECT count(*) AS n_queries FROM qs),
       |scored AS (
       |  SELECT r.bits, r.tables, r.recalled, r.exact_pairs,
       |    ${R("100.0 * r.recalled / r.exact_pairs", 2)} AS recall_pct,
       |    GREATEST(COALESCE(c.cand_incl_self, 0) - nq.n_queries * r.tables, 0)
       |      AS est_candidates
       |  FROM rec r LEFT JOIN cost c USING (bits, tables), nq),
       |flagged AS (
       |  SELECT s.*,
       |    ${R("100.0 * s.est_candidates / (nq.n_queries * (nc.n_corpus - 1))", 2)}
       |      AS cand_frac_pct
       |  FROM scored s, nq, nc),
       |pol AS (
       |  SELECT *,
       |    (recall_pct >= $RecallTargetPct AND cand_frac_pct <= $CostCapPct) AS feasible
       |  FROM flagged),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    ORDER BY feasible DESC, est_candidates, bits, tables) AS rk
       |  FROM pol)
       |SELECT bits, tables, recalled, exact_pairs, recall_pct, est_candidates,
       |  cand_frac_pct, feasible, (feasible AND rk = 1) AS chosen
       |FROM ranked ORDER BY bits, tables""".stripMargin
  }

  // ------------------------------------------------------------ event twins
  // `events.ts` is TIMESTAMP_NS in the parquet; DuckDB reads it natively at
  // ns precision while Spark (Sources.events) truncates to µs. epoch_us on
  // a ns timestamp keeps ns precision in DuckDB, so every timestamp is
  // bucketed/compared through epoch_us(ts) — integer µs in both engines —
  // and re-materialized with make_timestamp (µs) to match Spark's values.

  import graft.ext.Events.{SessionGapMinutes, SlideMinutes, WindowMinutes, RollingDays}

  /** DECIMAL(38,10) order-free sum cast back to double — twin of Num.dsum. */
  private def DS(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(38,10))) AS DOUBLE)"

  val eventsTumblingHourly: String =
    s"""SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
       |  event_type,
       |  count(*) AS n_events,
       |  count(DISTINCT user_id) AS n_users,
       |  ${R(DS("value"), 2)} AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin

  val eventsSlidingHourly: String = {
    val slideUs = SlideMinutes * 60L * 1000000L
    val n = WindowMinutes / SlideMinutes
    s"""SELECT make_timestamp((epoch_us(ts) // $slideUs) * $slideUs - i * $slideUs) AS window_start,
       |  count(*) AS n_events,
       |  count(DISTINCT user_id) AS n_users,
       |  ${R(DS("value"), 2)} AS total_value
       |FROM events, (SELECT unnest(generate_series(0, ${n - 1})) AS i)
       |GROUP BY 1
       |ORDER BY window_start""".stripMargin
  }

  val eventsSessions: String = {
    val gapUs = SessionGapMinutes * 60L * 1000000L
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $gapUs
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |numbered AS (
       |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       |  FROM flagged),
       |s AS (
       |  SELECT user_id, session_seq,
       |    min(ts) AS session_start, max(ts) AS session_end,
       |    count(*) AS n_events, ${R(DS("value"), 2)} AS session_value
       |  FROM numbered GROUP BY user_id, session_seq)
       |SELECT user_id, session_seq,
       |  make_timestamp(epoch_us(session_start)) AS session_start,
       |  make_timestamp(epoch_us(session_end)) AS session_end,
       |  n_events, session_value,
       |  ${R("(epoch_us(session_end) - epoch_us(session_start)) / 1e6", 2)} AS duration_sec
       |FROM s
       |ORDER BY user_id, session_seq""".stripMargin
  }

  /** Twin of Events.sessionWindowsNative: same lag/gap sessionization as
    * [[eventsSessions]], but the window END is last-event + gap (Spark's
    * session_window closes a session `gap` after its last event). */
  val eventsSessionWindows: String = {
    val gapUs = SessionGapMinutes * 60L * 1000000L
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $gapUs
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |numbered AS (
       |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       |  FROM flagged)
       |SELECT user_id,
       |  make_timestamp(min(epoch_us(ts))) AS session_start,
       |  make_timestamp(max(epoch_us(ts)) + $gapUs) AS session_end,
       |  count(*) AS n_events, ${R(DS("value"), 2)} AS session_value
       |FROM numbered GROUP BY user_id, session_seq
       |ORDER BY user_id, session_start""".stripMargin
  }

  val eventsUserRollingDaily: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |    count(*) AS n_events, ${DS("value")} AS day_value,
       |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
       |  FROM events GROUP BY user_id, CAST(ts AS DATE))
       |SELECT user_id, day, n_events,
       |  ${R("day_value", 2)} AS day_value,
       |  CAST(SUM(n_events) OVER w AS BIGINT) AS rolling_7d_events,
       |  ${R("CAST(SUM(CAST(day_value AS DECIMAL(38,10))) OVER w AS DOUBLE)", 2)} AS rolling_7d_value
       |FROM daily
       |WINDOW w AS (PARTITION BY user_id ORDER BY day_num
       |             RANGE BETWEEN ${RollingDays - 1} PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, day""".stripMargin

  /** Twin of Events.anomalyDays — exact decimal daily totals, medians as
    * exact order statistics under the (value, day) total order (lower and
    * upper middle averaged), 3·MAD verdict on unrounded doubles. */
  val eventsAnomalyDays: String = {
    import graft.ext.Events.AnomalyMadK
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
       |    ${DS("value")} AS total
       |  FROM events GROUP BY CAST(ts AS DATE)),
       |rk AS (SELECT *, row_number() OVER (ORDER BY total, day) AS rn,
       |    count(*) OVER () AS tot FROM daily),
       |med AS (SELECT sum(total) / count(*) AS med FROM rk
       |  WHERE rn = (tot + 1) // 2 OR rn = tot // 2 + 1),
       |dev AS (SELECT day, n_events, total, med, abs(total - med) AS dev
       |  FROM daily, med),
       |rk2 AS (SELECT dev, day, row_number() OVER (ORDER BY dev, day) AS rn,
       |    count(*) OVER () AS tot FROM dev),
       |mad AS (SELECT sum(dev) / count(*) AS mad FROM rk2
       |  WHERE rn = (tot + 1) // 2 OR rn = tot // 2 + 1)
       |SELECT day, n_events,
       |  ${R("total", 2)} AS total_value,
       |  ${R("med", 2)} AS median_value,
       |  ${R("dev", 2)} AS abs_deviation,
       |  ${R("mad", 2)} AS mad,
       |  dev > $AnomalyMadK * mad AS is_anomaly
       |FROM dev, mad
       |ORDER BY day""".stripMargin
  }

  /** Twin of Events.userSeriesCorrelation — the same implicit-zero Pearson
    * algebra: user/day and day decimal aggregates, three grid moments,
    * clamped variances. */
  val eventsUserSeriesCorr: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, ${DS("value")} AS x
       |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
       |ref AS (
       |  SELECT CAST(ts AS DATE) AS day, ${DS("value")} AS y
       |  FROM events GROUP BY CAST(ts AS DATE)),
       |g AS (
       |  SELECT count(*) AS n, ${DS("y")} AS sy, ${DS("y * y")} AS syy FROM ref),
       |per AS (
       |  SELECT d.user_id, count(*) AS n_active_days,
       |    ${DS("d.x")} AS sx, ${DS("d.x * d.x")} AS sxx, ${DS("d.x * r.y")} AS sxy
       |  FROM daily d JOIN ref r USING (day) GROUP BY d.user_id)
       |SELECT user_id, n_active_days,
       |  ${R("""(n * sxy - sx * sy) / NULLIF(
       |      sqrt(GREATEST(n * sxx - sx * sx, 0.0))
       |      * sqrt(GREATEST(n * syy - sy * sy, 0.0)), 0)""", 4)} AS pearson_r
       |FROM per, g ORDER BY user_id""".stripMargin

  val eventsTypeKpis: String =
    s"""SELECT event_type,
       |  count(*) AS n_events,
       |  ${R(DS("value"), 2)} AS total_value,
       |  ${R("CAST(SUM(CAST(props->>'k' AS BIGINT)) AS DOUBLE) / count(*)", 2)} AS avg_k,
       |  min(CAST(props->>'k' AS BIGINT)) AS min_k,
       |  max(CAST(props->>'k' AS BIGINT)) AS max_k
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  val eventsWeeklyRetention: String = {
    val wk = "CAST(epoch_us(ts) // 604800000000 AS BIGINT)"
    s"""WITH fw AS (
       |  SELECT user_id, min($wk) AS cohort_week FROM events GROUP BY user_id),
       |active AS (SELECT DISTINCT user_id, $wk AS week FROM events),
       |sizes AS (SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
       |          FROM fw GROUP BY cohort_week),
       |m AS (
       |  SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
       |         count(DISTINCT a.user_id) AS n_active
       |  FROM active a JOIN fw f ON a.user_id = f.user_id
       |  GROUP BY f.cohort_week, a.week - f.cohort_week)
       |SELECT m.cohort_week, m.week_offset, m.n_active, s.cohort_size,
       |  ${R("CAST(m.n_active AS DOUBLE) / s.cohort_size", 4)} AS retention
       |FROM m JOIN sizes s ON m.cohort_week = s.cohort_week
       |ORDER BY m.cohort_week, week_offset""".stripMargin
  }

  val eventsValueHistogram: String = {
    import graft.ext.Events.{HistBucketWidth, HistMaxBucket}
    s"""SELECT event_type,
       |  CAST(LEAST(FLOOR(value / $HistBucketWidth), $HistMaxBucket) AS BIGINT) AS bucket,
       |  count(*) AS n,
       |  ${R("min(value)", 2)} AS lo,
       |  ${R("max(value)", 2)} AS hi
       |FROM events
       |GROUP BY event_type, LEAST(FLOOR(value / $HistBucketWidth), $HistMaxBucket)
       |ORDER BY event_type, bucket""".stripMargin
  }

  val eventsFunnel: String = {
    val stages = Seq("signup", "view", "click", "purchase")
    val ctes = stages.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = '$s' GROUP BY user_id)"
      else
        s"""s${i + 1} AS (
           |  SELECT e.user_id, min(e.ts) AS t
           |  FROM events e JOIN s$i ON e.user_id = s$i.user_id AND e.ts >= s$i.t
           |  WHERE e.event_type = '$s' GROUP BY e.user_id)""".stripMargin
    }
    val arms = stages.zipWithIndex.map { case (s, i) =>
      s"SELECT ${i + 1} AS stage, '$s' AS event_type, (SELECT count(*) FROM s${i + 1}) AS n_users"
    }
    s"""WITH ${ctes.mkString(",\n")}
       |${arms.mkString("\nUNION ALL ")}
       |ORDER BY stage""".stripMargin
  }

  // -------------------------------------------- README BI consumer queries
  // (reference: README.md:216-236) — each wraps the matching gold oracle in
  // a CTE. Tiebreakers (customer_name / supplier_name) make the README's
  // ORDER BY total so LIMIT is deterministic cross-engine.

  val consumerTopClv: String =
    s"""WITH g AS (${Oracles.goldCustomerLifetimeValue})
       |SELECT customer_name, estimated_3yr_clv, customer_segment FROM g
       |WHERE value_tier = 'Platinum'
       |ORDER BY estimated_3yr_clv DESC, customer_name LIMIT 20""".stripMargin

  val consumerStrategicSuppliers: String =
    s"""WITH g AS (${Oracles.goldSupplierPerformance})
       |SELECT supplier_name, supplier_region, supplier_tier,
       |       performance_score, on_time_delivery_rate
       |FROM g
       |ORDER BY performance_score DESC, supplier_name
       |LIMIT 25""".stripMargin

  val consumerRegionalRevenue1998: String =
    s"""WITH g AS (${Oracles.goldRevenueByRegion})
       |SELECT * FROM g WHERE order_year = 1998
       |ORDER BY region_name, nation_name, market_segment, order_month""".stripMargin

  val consumerMonthlyTrendReport: String =
    s"""WITH g AS (${Oracles.goldMonthlySalesTrends})
       |SELECT order_year, order_month, total_revenue,
       |  revenue_3mo_moving_avg, mom_revenue_growth_pct
       |FROM g ORDER BY order_year, order_month""".stripMargin

  /** Twin of Similarity.ivfCentroids/annIvf: exact decimal per-label means,
    * nearest-centroid inverted lists, nProbe-centroid search. Centroid
    * ranking uses the RAW cosine (both engines compute the identical IEEE
    * double), rounding only on output. */
  val simAnnIvf: String = {
    import graft.ext.Similarity.IvfProbes
    s"""WITH $normCte,
       |nl AS (SELECT n.vec_id, n.v, n.norm, e2.label
       |  FROM n JOIN embeddings e2 ON e2.vec_id = n.vec_id),
       |cent AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(v[i] AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS c
       |  FROM nl, (SELECT unnest(generate_series(1, $Dim)) AS i) AS dims
       |  GROUP BY label, i),
       |centv AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
       |centn AS (SELECT label, cv,
       |  sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x * x)),
       |    (a, b) -> a + b)) AS cnorm
       |  FROM centv),
       |scored AS (
       |  SELECT a.vec_id, a.v, a.norm, c.label,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY (${dotSql("a.v", "c.cv")}) / (a.norm * c.cnorm) DESC, c.label) AS crank
       |  FROM nl a CROSS JOIN centn c),
       |inv AS (SELECT label AS cl, vec_id, v, norm FROM scored WHERE crank = 1),
       |probes AS (SELECT label AS cl, vec_id, v, norm FROM scored WHERE crank <= $IvfProbes),
       |${topKSql(
        s"""p AS (
           |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           |    ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} AS cosine
           |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id)""".stripMargin)}""".stripMargin
  }

  /** The k-means coarse-quantizer CTE chain shared by [[simAnnIvfKmeans]]
    * and [[dedupSemanticKmeans]] — twin of `Similarity.kmeansCentroids`:
    * ⌈√n⌉ seeds by the sampling mix hash of vec_id, then
    * [[graft.ext.Similarity.KmeansIters]] Lloyd rounds (cosine argmax
    * assignment with ties→lower seed id, exact decimal-mean update).
    * Appends after `n` ([[normCte]]); the final centroid table is
    * `c<KmeansIters>` with columns (cl, cv, cnorm). */
  private def kmeansCtes: String = kmeansCtesAt()

  /** [[kmeansCtes]] parameterized by vector length, source CTE, and a CTE
    * name prefix — so TWO chains (full-space over `n` + JL-projected over
    * `rp`) can coexist in one WITH clause (the SemDeDup agreement twin
    * needs both). Defaults reproduce the historical chain byte-for-byte;
    * the final centroid table is `<pfx>c<KmeansIters>`. */
  private def kmeansCtesAt(dim: Int = Dim, src: String = "n",
                           pfx: String = ""): String = {
    import graft.ext.Similarity.KmeansIters
    val listNorm =
      "sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x * x)), (a, b) -> a + b))"
    def round(prev: String, out: String, r: Int): String =
      s"""${pfx}a$r AS (
         |  SELECT x.vec_id, x.v, c.cl,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY (${dotSqlN("x.v", "c.cv", dim)}) / (x.norm * c.cnorm) DESC, c.cl) AS crank
         |  FROM $src x CROSS JOIN $prev c),
         |${out}m AS (
         |  SELECT cl, i, CAST(SUM(CAST(v[i] AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS c
         |  FROM ${pfx}a$r, (SELECT unnest(generate_series(1, $dim)) AS i) AS dims
         |  WHERE crank = 1 GROUP BY cl, i),
         |${out}v AS (SELECT cl, list(c ORDER BY i) AS cv FROM ${out}m GROUP BY cl),
         |$out AS (SELECT cl, cv, $listNorm AS cnorm FROM ${out}v
         |  WHERE $listNorm > 0)""".stripMargin
    val rounds = (1 to KmeansIters)
      .map(r => round(s"${pfx}c${r - 1}", s"${pfx}c$r", r)).mkString(",\n")
    s"""${pfx}sr AS (SELECT vec_id AS cl, v AS cv,
       |    row_number() OVER (ORDER BY ${mixSql("vec_id")}, vec_id) AS rk
       |  FROM $src),
       |${pfx}c0 AS (SELECT cl, cv, $listNorm AS cnorm FROM ${pfx}sr
       |  WHERE rk <= (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM $src)
       |    AND $listNorm > 0),
       |$rounds""".stripMargin
  }

  /** The shared SemDeDup verdict tail as CTEs — √n-k-means assignment +
    * within-cluster pair scan + keep-lowest-id verdict, parameterized by
    * (CTE prefix, source vector CTE, vector length, centroid table) so the
    * full-space and rp-projected chains can coexist in one WITH clause.
    * Final CTE is `<pfx>vd` (vec_id, cluster, kept). */
  private def semanticVerdictCtes(pfx: String, src: String, dim: Int,
                                  centTable: String): String =
    s"""${pfx}scored AS (
       |  SELECT x.vec_id, x.v, x.norm, c.cl,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY (${dotSqlN("x.v", "c.cv", dim)}) / (x.norm * c.cnorm) DESC, c.cl) AS crank
       |  FROM $src x CROSS JOIN $centTable c),
       |${pfx}asg AS (SELECT cl AS cluster, vec_id, v, norm FROM ${pfx}scored WHERE crank = 1),
       |${pfx}dups AS (SELECT DISTINCT b.vec_id AS dup_id
       |  FROM ${pfx}asg a JOIN ${pfx}asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${R(s"(${dotSqlN("a.v", "b.v", dim)}) / (a.norm * b.norm)", 6)} >= $CosineThreshold),
       |${pfx}vd AS (SELECT a.vec_id, a.cluster, d.dup_id IS NULL AS kept
       |  FROM ${pfx}asg a LEFT JOIN ${pfx}dups d ON d.dup_id = a.vec_id)""".stripMargin

  /** Twin of Dedup.semanticDedupRp — reduce-THEN-dedup (r15): the
    * [[rpProjCte]] 16-dim projected corpus (renamed to the (vec_id, v,
    * norm) vector shape) fed through the IDENTICAL [[kmeansCtesAt]] √n
    * Lloyd chain and [[semanticVerdictCtes]] pair-scan verdict at
    * dim = RpDims — every dot in the dedup runs over projected arrays. */
  lazy val dedupSemanticRp: String = {
    import graft.ext.Similarity.{KmeansIters, RpDims}
    s"""WITH $rpProjCte,
       |rv AS (SELECT vec_id, p AS v, pnorm AS norm FROM pn),
       |${kmeansCtesAt(RpDims, "rv")},
       |${semanticVerdictCtes("", "rv", RpDims, s"c$KmeansIters")}
       |SELECT vec_id, cluster, kept FROM vd
       |ORDER BY vec_id""".stripMargin
  }

  /** Twin of Dedup.semanticDedupRpAgreement — BOTH verdict chains (the
    * full-space [[dedupSemanticKmeans]] one and the projected
    * [[dedupSemanticRp]] one) in a single WITH clause via the
    * prefix-parameterized CTE builders, joined per-vector and reduced to
    * one row of BIGINT-exact counts + 4-dp rates. */
  lazy val dedupSemanticRpAgreement: String = {
    import graft.ext.Similarity.{KmeansIters, RpDims}
    s"""WITH $rpProjCte,
       |rv AS (SELECT vec_id, p AS v, pnorm AS norm FROM pn),
       |${kmeansCtesAt()},
       |${kmeansCtesAt(RpDims, "rv", "r")},
       |${semanticVerdictCtes("f", "n", Dim, s"c$KmeansIters")},
       |${semanticVerdictCtes("p", "rv", RpDims, s"rc$KmeansIters")},
       |j AS (SELECT f.vec_id, f.kept AS kf, p.kept AS kr
       |  FROM fvd f JOIN pvd p ON p.vec_id = f.vec_id),
       |agg AS (SELECT
       |    CAST(count(*) AS BIGINT) AS n_vecs,
       |    CAST(SUM(CASE WHEN kf THEN 1 ELSE 0 END) AS BIGINT) AS kept_full,
       |    CAST(SUM(CASE WHEN kr THEN 1 ELSE 0 END) AS BIGINT) AS kept_rp,
       |    CAST(SUM(CASE WHEN kf = kr THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |    CAST(SUM(CASE WHEN NOT kf AND NOT kr THEN 1 ELSE 0 END) AS BIGINT) AS drop_both,
       |    CAST(SUM(CASE WHEN NOT kf OR NOT kr THEN 1 ELSE 0 END) AS BIGINT) AS drop_union
       |  FROM j)
       |SELECT n_vecs, kept_full, kept_rp, n_agree,
       |  ${R("CAST(n_agree AS DOUBLE) / n_vecs", 4)} AS agree_rate,
       |  drop_both, drop_union,
       |  CASE WHEN drop_union > 0
       |    THEN ${R("CAST(drop_both AS DOUBLE) / drop_union", 4)} END AS drop_jaccard
       |FROM agg""".stripMargin
  }

  /** The probe-calibration CTE chain shared by the k-means and hierarchical
    * IVF twins — twin of `Similarity.nProbeFromThresh` + its callers: the
    * [[graft.ext.Similarity.CalQueries]]-query sample, its exact sampled
    * top-K, each pair's cell-rank threshold against the caller-supplied
    * full-ranking CTE (`query_id, cl, qcrank` — unreachable cells LEFT-JOIN
    * to ∞) and assigned-cell CTE (`neighbor_id, cl`), and the integer
    * ⌈pct·N/100⌉ quantile. Emits CTEs calq/cex/th/np; probe depth is
    * `(SELECT p FROM np)`. */
  private def calibrationCtes(qRankCte: String, nbCellCte: String,
                              dim: Int = Dim, src: String = "n"): String = {
    import graft.ext.Similarity.{CalQueries, RecallTargetPct}
    s"""calq AS (SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY ${mixSql("vec_id")}, vec_id) AS rk
       |    FROM $src) WHERE rk <= $CalQueries),
       |cex AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${R(s"(${dotSqlN("q.v", "x.v", dim)}) / (q.norm * x.norm)", 6)} DESC, x.vec_id) AS rk
       |    FROM $src q JOIN calq cq ON cq.vec_id = q.vec_id
       |    JOIN $src x ON x.vec_id <> q.vec_id) WHERE rk <= $TopK),
       |th AS (SELECT min(COALESCE(qr.qcrank, 2147483647)) AS thresh
       |  FROM cex ex JOIN ($nbCellCte) nbc ON nbc.neighbor_id = ex.neighbor_id
       |  LEFT JOIN ($qRankCte) qr
       |    ON qr.query_id = ex.query_id AND qr.cl = nbc.cl
       |  GROUP BY ex.query_id, ex.neighbor_id),
       |np AS (SELECT GREATEST(${graft.ext.Similarity.IvfProbes}, (
       |    SELECT thresh FROM (
       |      SELECT thresh, row_number() OVER (ORDER BY thresh) AS rn FROM th)
       |    WHERE rn = (SELECT ($RecallTargetPct * COUNT(*) + 99) // 100 FROM th))) AS p)""".stripMargin
  }

  /** Twin of Similarity.annIvfKmeans (r14 definition): flat IVF over the
    * HIER SUB-CENTROID cells — [[hierStructCtes]]'s `s<HierSubIters>`
    * table flattened (the l1 routing level dropped), every query ranking
    * ALL cells exhaustively; then the [[calibrationCtes]] recall-targeted
    * probe depth and the same probe/refine as [[simAnnIvf]]. Shares the
    * structure with [[simAnnIvfHier]] exactly as the Spark side shares
    * one `hierStructure` across the audit arms (VERDICT r13 #2). Cluster
    * id = seed vec_id. `probeCond` (AND-appended to the probes CTE)
    * restricts WHICH vectors query the index — the twin of
    * annIvfKmeansFrom's probeFilter; the index structure and calibration
    * stay full-corpus. */
  private def simAnnIvfKmeansSql(probeCond: String = ""): String = {
    import graft.ext.Similarity.HierSubIters
    s"""WITH ${hierStructCtes()},
       |fc AS (SELECT cl, cv, cnorm FROM s$HierSubIters),
       |scored AS (
       |  SELECT x.vec_id, x.v, x.norm, c.cl,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY (${dotSql("x.v", "c.cv")}) / (x.norm * c.cnorm) DESC, c.cl) AS crank
       |  FROM n x CROSS JOIN fc c),
       |${calibrationCtes(
        "SELECT vec_id AS query_id, cl, crank AS qcrank FROM scored",
        "SELECT vec_id AS neighbor_id, cl FROM scored WHERE crank = 1")},
       |inv AS (SELECT cl, vec_id, v, norm FROM scored WHERE crank = 1),
       |probes AS (SELECT cl, vec_id, v, norm FROM scored
       |  WHERE crank <= (SELECT p FROM np)$probeCond),
       |${topKSql(
        s"""p AS (
           |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           |    ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} AS cosine
           |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id)""".stripMargin)}""".stripMargin
  }

  val simAnnIvfKmeans: String = simAnnIvfKmeansSql()

  /** Twin of Hybrid.hybridRrf — reciprocal-rank fusion of the BM25
    * known-item arm ([[textBm25TopK]], nested verbatim) and the flat-IVF
    * dense arm probing the same mix-bucket ids
    * ([[simAnnIvfKmeansSql]] with the probe restriction). Rank-only
    * integer fusion: contribution = `1000000 // (K + rank)`, missing arm
    * → 0; ties → lower doc_id. Zero float surface in the fusion layer —
    * the arms' own determinism devices carry through. */
  /** The RRF fusion tail shared by both hybrid twins — twin of
    * Hybrid.rrfFuseOf over a (qid, doc_id, rank) lexical arm and a
    * (query_id, neighbor_id, rank) dense arm, each nested verbatim. */
  private def rrfFusionSql(lexSql: String, denseSql: String): String = {
    import graft.ext.Hybrid.{FusedTopK, RrfK}
    s"""WITH lex AS (SELECT qid, doc_id, rank FROM ($lexSql)),
       |dense AS (SELECT query_id AS qid, neighbor_id AS doc_id, rank
       |  FROM ($denseSql)),
       |f AS (SELECT COALESCE(l.qid, d.qid) AS qid,
       |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
       |    CAST(COALESCE(l.rank, 0) AS BIGINT) AS lex_rank,
       |    CAST(COALESCE(d.rank, 0) AS BIGINT) AS dense_rank,
       |    CAST(COALESCE(1000000 // ($RrfK + l.rank), 0)
       |       + COALESCE(1000000 // ($RrfK + d.rank), 0) AS BIGINT) AS rrf_mn
       |  FROM lex l FULL JOIN dense d
       |    ON d.qid = l.qid AND d.doc_id = l.doc_id),
       |rk AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY rrf_mn DESC, doc_id) AS INTEGER) AS rank FROM f)
       |SELECT qid, rank, doc_id, rrf_mn, lex_rank, dense_rank
       |FROM rk WHERE rank <= $FusedTopK
       |ORDER BY qid, rank""".stripMargin
  }

  lazy val textHybridRrf: String = {
    import graft.ext.Text.Bm25QueryPct
    rrfFusionSql(textBm25TopK, simAnnIvfKmeansSql(
      s" AND ${mixSql("vec_id")} % 100 >= ${100 - Bm25QueryPct}"))
  }

  /** Twin of Hybrid.hybridRrfIndexed — the bounded BM25 twin fused with
    * the hier-IVF twin ([[simAnnIvfHier]]'s chain) restricted to the same
    * (mix, doc_id)-bounded query batch. */
  lazy val textHybridRrfIndexed: String = {
    import graft.ext.Text.{Bm25QueryPct, Bm25SearchQueries}
    val denseSql =
      s"""WITH $hierChain,
         |qsel AS (SELECT doc_id FROM (
         |    SELECT doc_id, ${mixSql("doc_id")} % 100 AS b FROM documents)
         |  WHERE b >= ${100 - Bm25QueryPct}
         |  ORDER BY ${mixSql("doc_id")}, doc_id LIMIT $Bm25SearchQueries),
         |${topKSql(
          s"""p AS (
             |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             |    ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} AS cosine
             |  FROM probes q JOIN qsel s ON s.doc_id = q.vec_id
             |  JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id)""".stripMargin)}""".stripMargin
    rrfFusionSql(textBm25Bounded, denseSql)
  }

  /** Twin of Hybrid.retrievalQuality — known-item hit rate + micro-unit
    * MRR of the bounded BM25 arm ([[textBm25Bounded]]) and the indexed
    * hybrid arm ([[textHybridRrfIndexed]]), each nested verbatim; rr
    * contribution `1000000 // rank`, MRR = Σrr `//` the bounded query
    * count. Pure BIGINT end to end. */
  lazy val textRetrievalQuality: String = {
    import graft.ext.Text.{Bm25QueryPct, Bm25SearchQueries}
    def armSql(name: String, resSql: String): String =
      s"""SELECT '$name' AS arm,
         |  CAST(count(CASE WHEN qid = doc_id THEN 1 END) AS BIGINT) AS hits_at_k,
         |  CAST(COALESCE(SUM(CASE WHEN qid = doc_id
         |      THEN 1000000 // CAST(rank AS BIGINT) END), 0) AS BIGINT) AS rr_sum
         |FROM ($resSql)""".stripMargin
    s"""WITH nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM (
       |    SELECT doc_id FROM (
       |      SELECT doc_id, ${mixSql("doc_id")} % 100 AS b FROM documents)
       |    WHERE b >= ${100 - Bm25QueryPct}
       |    ORDER BY ${mixSql("doc_id")}, doc_id LIMIT $Bm25SearchQueries)),
       |arms AS (
       |  ${armSql("bm25", textBm25Bounded)}
       |  UNION ALL
       |  ${armSql("bm25_rm3", textBm25Rm3)}
       |  UNION ALL
       |  ${armSql("hybrid_rrf", textHybridRrfIndexed)})
       |SELECT arm, (SELECT n_queries FROM nq) AS n_queries, hits_at_k,
       |  CAST(rr_sum // (SELECT n_queries FROM nq) AS BIGINT) AS mrr_ppm
       |FROM arms ORDER BY arm""".stripMargin
  }

  /** Twin of Hybrid.contextPack — greedy prefix packing of the indexed
    * hybrid's fused top-k into the token budget: rank-ordered running
    * token total per qid, rows kept while it fits. The window SUM runs
    * over unique ranks, so DuckDB's RANGE default frame equals Spark's
    * explicit ROWS frame. */
  lazy val textContextPack: String = {
    import graft.ext.Hybrid.CtxBudgetTokens
    s"""WITH hy AS (SELECT qid, rank, doc_id FROM ($textHybridRrfIndexed)),
       |dls AS (SELECT doc_id,
       |    CAST(len(list_filter($toks, x -> x <> '')) AS BIGINT) AS doc_tokens
       |  FROM documents),
       |c AS (SELECT hy.qid, hy.rank, hy.doc_id, dls.doc_tokens,
       |    CAST(SUM(dls.doc_tokens) OVER (
       |      PARTITION BY hy.qid ORDER BY hy.rank) AS BIGINT) AS cum_tokens
       |  FROM hy JOIN dls USING (doc_id))
       |SELECT qid, rank, doc_id, doc_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= $CtxBudgetTokens
       |ORDER BY qid, rank""".stripMargin
  }

  /** The two-level quantizer CTE chain shared by [[simAnnIvfHier]] and
    * [[simAnnIvfPq]] — K₁ fixed L1 cells (seeds + Lloyd rounds, prefixed
    * h*), per-cell sub-centroid table (s*: per-L1 seeds by (mix, vec_id),
    * one Lloyd round restricted to each vector's own L1 cell), candidate
    * sub-cells from the HierL1Probes nearest L1 cells, and the shared
    * [[calibrationCtes]] probe depth. Emits `n`, `inv` (cl, vec_id, v,
    * norm) and `probes` (same shape, crank ≤ calibrated depth); appends
    * directly after WITH. */
  private val hierChain: String = hierChainAt(listDepth = 1)

  /** The STRUCTURE portion of [[hierChainAt]] — everything through the
    * final sub-centroid table `s<HierSubIters>` (l1, cl, cv, cnorm), no
    * routing/calibration. Shared verbatim by the hier twins AND (r14) the
    * flat-IVF twin, whose cell set IS this structure flattened — the SQL
    * mirror of `Similarity.flatCents(hierStructure(..))`. */
  private def hierStructCtes(dim: Int = Dim, pre: String = normCte,
                             src: String = "n"): String = {
    import graft.ext.Similarity.{HierSubIters, HierTopCells, KmeansIters}
    def dotD(a: String, b: String): String = dotSqlN(a, b, dim)
    val listNorm =
      "sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x * x)), (a, b) -> a + b))"
    // L1 Lloyd rounds over the fixed-K₁ seed set (names prefixed h)
    def l1Round(prev: String, out: String, r: Int): String =
      s"""ha$r AS (
         |  SELECT x.vec_id, x.v, c.cl,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY (${dotD("x.v", "c.cv")}) / (x.norm * c.cnorm) DESC, c.cl) AS crank
         |  FROM $src x CROSS JOIN $prev c),
         |${out}m AS (
         |  SELECT cl, i, CAST(SUM(CAST(v[i] AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS c
         |  FROM ha$r, (SELECT unnest(generate_series(1, $dim)) AS i) AS dims
         |  WHERE crank = 1 GROUP BY cl, i),
         |${out}v AS (SELECT cl, list(c ORDER BY i) AS cv FROM ${out}m GROUP BY cl),
         |$out AS (SELECT cl, cv, $listNorm AS cnorm FROM ${out}v WHERE $listNorm > 0)""".stripMargin
    val l1Rounds = (1 to KmeansIters)
      .map(r => l1Round(s"h${r - 1}", s"h$r", r)).mkString(",\n")
    // L2 Lloyd rounds: assignment meets only the sub-centroids of the
    // vector's own L1 cell; sub-cells keep their seed's l1
    def l2Round(prev: String, out: String, r: Int): String =
      s"""sa$r AS (
         |  SELECT x.vec_id, x.v, s.cl,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY (${dotD("x.v", "s.cv")}) / (x.norm * s.cnorm) DESC, s.cl) AS crank
         |  FROM a1 x JOIN $prev s ON s.l1 = x.l1),
         |${out}m AS (
         |  SELECT cl, i, CAST(SUM(CAST(v[i] AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS c
         |  FROM sa$r, (SELECT unnest(generate_series(1, $dim)) AS i) AS dims
         |  WHERE crank = 1 GROUP BY cl, i),
         |${out}v AS (SELECT cl, list(c ORDER BY i) AS cv FROM ${out}m GROUP BY cl),
         |${out}n AS (SELECT cl, cv, $listNorm AS cnorm FROM ${out}v WHERE $listNorm > 0),
         |$out AS (SELECT s0.l1, t.cl, t.cv, t.cnorm FROM ${out}n t
         |  JOIN s0 ON s0.cl = t.cl)""".stripMargin
    val l2Rounds = (1 to HierSubIters)
      .map(r => l2Round(if (r == 1) "s0" else s"s${r - 1}", s"s$r", r)).mkString(",\n")
    s"""$pre,
       |hsr AS (SELECT vec_id AS cl, v AS cv,
       |    row_number() OVER (ORDER BY ${mixSql("vec_id")}, vec_id) AS rk
       |  FROM $src),
       |h0 AS (SELECT cl, cv, $listNorm AS cnorm FROM hsr
       |  WHERE rk <= $HierTopCells AND $listNorm > 0),
       |$l1Rounds,
       |hasg AS (
       |  SELECT x.vec_id, x.v, x.norm, c.cl AS l1,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY (${dotD("x.v", "c.cv")}) / (x.norm * c.cnorm) DESC, c.cl) AS lrank
       |  FROM $src x CROSS JOIN h$KmeansIters c),
       |a1 AS (SELECT vec_id, v, norm, l1 FROM hasg WHERE lrank = 1),
       |k2c AS (SELECT CAST(ceil(ceil(sqrt(count(*))) / $HierTopCells.0) AS BIGINT) AS v FROM $src),
       |ss AS (SELECT a.l1, a.vec_id AS cl, a.v AS cv,
       |    row_number() OVER (PARTITION BY a.l1
       |      ORDER BY ${mixSql("a.vec_id")}, a.vec_id) AS rk
       |  FROM a1 a),
       |s0 AS (SELECT l1, cl, cv, $listNorm AS cnorm FROM ss
       |  WHERE rk <= (SELECT v FROM k2c) AND $listNorm > 0),
       |$l2Rounds""".stripMargin
  }

  /** [[hierChain]] parameterized by inverted-list spill depth. Calibration
    * stays at the BASE (depth-1) reachability on purpose: the spill
    * operator's contract is a candidate-set superset of the base arm at
    * the same probe depth (see Similarity.SpillS). */
  private def hierChainAt(listDepth: Int, dim: Int = Dim,
                          pre: String = normCte, src: String = "n"): String = {
    import graft.ext.Similarity.{HierL1Probes, HierSubIters}
    def dotD(a: String, b: String): String = dotSqlN(a, b, dim)
    s"""${hierStructCtes(dim, pre, src)},
       |cand AS (
       |  SELECT x.vec_id, x.v, x.norm, s.cl,
       |    (${dotD("x.v", "s.cv")}) / (x.norm * s.cnorm) AS c
       |  FROM (SELECT vec_id, v, norm, l1 FROM hasg WHERE lrank <= $HierL1Probes) x
       |  JOIN s$HierSubIters s ON s.l1 = x.l1),
       |scored AS (
       |  SELECT vec_id, v, norm, cl,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cl) AS crank
       |  FROM cand),
       |${calibrationCtes(
        "SELECT vec_id AS query_id, cl, crank AS qcrank FROM scored",
        "SELECT vec_id AS neighbor_id, cl FROM scored WHERE crank = 1",
        dim, src)},
       |inv AS (SELECT cl, vec_id, v, norm FROM scored WHERE crank <= $listDepth),
       |probes AS (SELECT cl, vec_id, v, norm FROM scored
       |  WHERE crank <= (SELECT p FROM np))""".stripMargin
  }

  /** Twin of Similarity.annIvfHier: the [[hierChain]] quantizer +
    * calibration, then the same inverted-list refine tail as every IVF
    * twin. */
  val simAnnIvfHier: String =
    s"""WITH $hierChain,
       |${topKSql(
      s"""p AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} AS cosine
         |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id)""".stripMargin)}""".stripMargin

  /** Twin of Similarity.annIvfRp — the reduce-THEN-index composition:
    * [[rpProjCte]]'s 16-dim projected corpus (renamed to the (vec_id, v,
    * norm) vector shape) fed through the SAME [[hierChainAt]] quantizer +
    * calibration at dim = RpDims, then the standard refine tail — every
    * dot in the chain runs over the projected arrays. */
  val simAnnIvfRp: String = {
    import graft.ext.Similarity.RpDims
    val pre = s"""$rpProjCte,
       |rv AS (SELECT vec_id, p AS v, pnorm AS norm FROM pn)""".stripMargin
    val chain = hierChainAt(listDepth = 1, dim = RpDims, pre = pre, src = "rv")
    s"""WITH $chain,
       |${topKSql(
      s"""p AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    ${R(s"(${dotSqlN("q.v", "x.v", RpDims)}) / (q.norm * x.norm)", 6)} AS cosine
         |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id)""".stripMargin)}""".stripMargin
  }

  /** Twin of Similarity.plantedVecs — the planted-cluster corpus as a
    * deterministic function of the fixture's vec_ids: component =
    * PlantedWeight·sign(center plane) + sign(noise plane), both splitmix
    * ±1 folds with per-row plane indexes (the SQL form of the Spark
    * column expression splitmixSign). Emits `n` (vec_id, v, norm). */
  private val plantedCte: String = {
    import graft.ext.Similarity.{PlantedCenterBase, PlantedClusterSize,
      PlantedNoiseBase, PlantedNoiseMod, PlantedWeight}
    def sign(idx: String): String = {
      val h0 = s"(($idx) * $MixA % $M32)"
      val m = s"(xor($h0, $h0 >> 16) % $M31)"
      val h1 = s"($m * $MixB % $M32)"
      s"(CASE WHEN (($h1 >> 15) % 2) = 0 THEN 1.0 ELSE -1.0 END)"
    }
    val cIdx = s"(($PlantedCenterBase + vec_id // $PlantedClusterSize) * $Dim + i)"
    val nIdx = s"(($PlantedNoiseBase + vec_id % $PlantedNoiseMod) * $Dim + i)"
    s"""pe AS (SELECT vec_id, list_transform(generate_series(1, $Dim),
       |    i -> $PlantedWeight * ${sign(cIdx)} + ${sign(nIdx)}) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0,
       |    list_transform(v, x -> x * x)), (a, b) -> a + b)) AS norm
       |  FROM pe)""".stripMargin
  }

  /** ann_ivf_rp over the planted corpus — the identical [[hierChainAt]]
    * at dim = RpDims, with the planted corpus + projection as `pre`. */
  private lazy val plantedRpArmSql: String = {
    import graft.ext.Similarity.RpDims
    val pre = s"""$plantedCte,
       |$rpProjBody,
       |rv AS (SELECT vec_id, p AS v, pnorm AS norm FROM pn)""".stripMargin
    val chain = hierChainAt(listDepth = 1, dim = RpDims, pre = pre, src = "rv")
    s"""WITH $chain,
       |${topKSql(
      s"""p AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    ${R(s"(${dotSqlN("q.v", "x.v", RpDims)}) / (q.norm * x.norm)", 6)} AS cosine
         |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id)""".stripMargin)}""".stripMargin
  }

  /** rp_knn over the planted corpus — exact top-K in its projected space. */
  private lazy val plantedRpKnnSql: String = {
    import graft.ext.Similarity.RpDims
    s"""WITH $plantedCte,
       |$rpProjBody,
       |${topKSql(
      s"""p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    ${R(s"(${dotSqlN("a.p", "b.p", RpDims)}) / (a.pnorm * b.pnorm)", 6)} AS cosine
         |  FROM pn a JOIN pn b ON a.vec_id <> b.vec_id)""".stripMargin)}""".stripMargin
  }

  /** Twin of Similarity.rpRecallPlanted — the planted-regime rp recall
    * rows: full-space exact truth over the planted corpus, the rp_knn
    * projected-space ceiling, and the reduce-then-index ann_ivf_rp arm,
    * each through the standard [[auditArmSql]] recall aggregation. */
  lazy val simRpRecallPlanted: String =
    s"""WITH $plantedCte,
       |exact AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} DESC, x.vec_id) AS rk
       |    FROM n q JOIN n x ON x.vec_id <> q.vec_id) WHERE rk <= $TopK)
       |${auditArmSql("ann_ivf_rp", plantedRpArmSql)}
       |UNION ALL
       |${auditArmSql("rp_knn", plantedRpKnnSql)}
       |ORDER BY method""".stripMargin

  /** Twin of Similarity.hardNegatives — the [[hierChain]] candidate set
    * with the contrastive cosine band applied before the bounded
    * per-anchor top-k (band ceiling = the shared embedding near-dup
    * threshold). */
  val simHardNegatives: String = {
    import graft.ext.Similarity.{NegBandLo, NegBandHi, NegK}
    s"""WITH $hierChain,
       |p AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |    ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} AS cosine
       |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id),
       |b AS (SELECT * FROM p
       |  WHERE cosine >= $NegBandLo AND cosine < $NegBandHi),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS "rank"
       |  FROM b)
       |SELECT query_id, neighbor_id, cosine, "rank" FROM ranked
       |WHERE "rank" <= $NegK
       |ORDER BY query_id, "rank"""".stripMargin
  }

  /** Twin of Similarity.annIvfHierSpill: the [[hierChainAt]] chain with
    * spilled lists + spill-aware calibration, DISTINCT pairs before the
    * refine (a pair meets once per shared cell). */
  val simAnnIvfHierSpill: String =
    s"""WITH ${hierChainAt(graft.ext.Similarity.SpillS)},
       |${topKSql(
      s"""p AS (
         |  SELECT DISTINCT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} AS cosine
         |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id)""".stripMargin)}""".stripMargin

  /** PQ codebook + encoding CTE chain — twin of [[graft.ext.Pq]]'s
    * deterministic trainer/encoder (appends after a chain that emits `n`):
    * global (mix, vec_id)-ranked seeds sliced per subspace, PqIters Lloyd
    * rounds (squared-L2 argmin folded index-order, ties → lower code;
    * exact decimal-mean update; dense renumbering per subspace in old-id
    * order), then per-vector codes and the s-ordered-fold reconstruction
    * norm. Emits pb<PqIters> (s, code, cw), penc (vec_id, s, code), pnorm
    * (vec_id, rnorm). */
  private def pqCtes: String = pqCtesAt()

  /** [[pqCtes]] parameterized by subspace width and source CTE — the same
    * encode/codebook chain serves the full-space (8-dim slices over `n`)
    * and rp-projected (2-dim slices over `rv`) corpora, mirroring the
    * width-generic Spark helpers (`pqCodesCol`/`adcDotCol` derive the
    * width from the codebooks). Defaults reproduce the historical chain
    * byte-for-byte. */
  private def pqCtesAt(subDim: Int = graft.ext.Pq.PqSubDim,
                       src: String = "n"): String = {
    import graft.ext.Pq.{PqCodes, PqIters, PqSub}
    def l2Sql(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(
         |      generate_series(1, $subDim), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (x, y) -> x + y)""".stripMargin
    def round(prev: String, out: String, rn: Int): String =
      s"""pas$rn AS (
         |  SELECT a.vec_id, a.s, a.sv, c.code,
         |    row_number() OVER (PARTITION BY a.vec_id, a.s
         |      ORDER BY ${l2Sql("a.sv", "c.cw")} ASC, c.code) AS rk
         |  FROM psl a JOIN $prev c ON c.s = a.s),
         |${out}m AS (
         |  SELECT s, code, i,
         |    CAST(SUM(CAST(sv[i] AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS c
         |  FROM pas$rn, (SELECT unnest(generate_series(1, $subDim)) AS i) AS dims
         |  WHERE rk = 1 GROUP BY s, code, i),
         |${out}v AS (SELECT s, code, list(c ORDER BY i) AS cw FROM ${out}m
         |  GROUP BY s, code),
         |$out AS (SELECT s, row_number() OVER (PARTITION BY s ORDER BY code) AS code, cw
         |  FROM ${out}v)""".stripMargin
    val rounds = (1 to PqIters)
      .map(rn => round(s"pb${rn - 1}", s"pb$rn", rn)).mkString(",\n")
    s"""psd AS (SELECT vec_id, v,
       |    row_number() OVER (ORDER BY ${mixSql("vec_id")}, vec_id) AS code
       |  FROM $src),
       |psub AS (SELECT unnest(generate_series(0, ${PqSub - 1})) AS s),
       |pb0 AS (SELECT u.s, p.code,
       |    list_slice(p.v, u.s * $subDim + 1, (u.s + 1) * $subDim) AS cw
       |  FROM psd p CROSS JOIN psub u WHERE p.code <= $PqCodes),
       |psl AS (SELECT x.vec_id, u.s,
       |    list_slice(x.v, u.s * $subDim + 1, (u.s + 1) * $subDim) AS sv
       |  FROM $src x CROSS JOIN psub u),
       |$rounds,
       |pe AS (SELECT a.vec_id, a.s, c.code,
       |    row_number() OVER (PARTITION BY a.vec_id, a.s
       |      ORDER BY ${l2Sql("a.sv", "c.cw")} ASC, c.code) AS rk
       |  FROM psl a JOIN pb$PqIters c ON c.s = a.s),
       |penc AS (SELECT vec_id, s, code FROM pe WHERE rk = 1),
       |prn AS (SELECT s, code,
       |    list_reduce(list_prepend(0.0, list_transform(cw, x -> x * x)),
       |      (x, y) -> x + y) AS rn2
       |  FROM pb$PqIters),
       |pnorm AS (SELECT e.vec_id,
       |    sqrt(list_reduce(list_prepend(0.0, list(r.rn2 ORDER BY e.s)),
       |      (x, y) -> x + y)) AS rnorm
       |  FROM penc e JOIN prn r ON r.s = e.s AND r.code = e.code
       |  GROUP BY e.vec_id)""".stripMargin
  }

  /** Twin of Pq.annIvfPq: the [[hierChain]] coarse structure, the
    * [[pqCtes]] codebooks, ADC scoring (per-subspace query-slice ×
    * codeword dots, s-ordered fold), ADC top-PqRerank per query, exact
    * re-rank of just those candidates. */
  val simAnnIvfPq: String = {
    import graft.ext.Pq.{PqIters, PqRerank, PqSubDim}
    val subDot =
      s"""list_reduce(list_prepend(0.0, list_transform(
         |      generate_series(1, $PqSubDim), i -> q.v[e.s * $PqSubDim + i] * b.cw[i])),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH $hierChain,
       |$pqCtes,
       |padc AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, e.s, $subDot AS t
       |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id
       |  JOIN penc e ON e.vec_id = x.vec_id
       |  JOIN pb$PqIters b ON b.s = e.s AND b.code = e.code),
       |pscore AS (
       |  SELECT a.query_id, a.neighbor_id,
       |    ${R("list_reduce(list_prepend(0.0, list(a.t ORDER BY a.s)), (x, y) -> x + y)" +
           " / (qn.norm * pn.rnorm)", 6)} AS adc
       |  FROM padc a
       |  JOIN n qn ON qn.vec_id = a.query_id
       |  JOIN pnorm pn ON pn.vec_id = a.neighbor_id
       |  GROUP BY a.query_id, a.neighbor_id, qn.norm, pn.rnorm),
       |pcand AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc DESC, neighbor_id) AS crk
       |  FROM pscore),
       |${topKSql(
      s"""p AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} AS cosine
         |  FROM pcand c
         |  JOIN n q ON q.vec_id = c.query_id
         |  JOIN n x ON x.vec_id = c.neighbor_id
         |  WHERE c.crk <= $PqRerank)""".stripMargin)}""".stripMargin
  }

  /** Twin of Pq.annIvfRpPq — reduce-then-index-then-compress: the
    * [[rpProjCte]] 16-dim corpus through the SAME [[hierChainAt]] coarse
    * quantizer as [[simAnnIvfRp]], the [[pqCtesAt]] codebook/encode chain
    * at subspace width 2 over the projected vectors, ADC scoring and
    * exact refine both in the projected space (every dot at dim
    * [[graft.ext.Similarity.RpDims]]). */
  lazy val simAnnIvfRpPq: String = {
    import graft.ext.Pq.{PqIters, PqRerank}
    import graft.ext.Similarity.RpDims
    val subDim = RpDims / graft.ext.Pq.PqSub
    val pre = s"""$rpProjCte,
       |rv AS (SELECT vec_id, p AS v, pnorm AS norm FROM pn)""".stripMargin
    val chain = hierChainAt(listDepth = 1, dim = RpDims, pre = pre, src = "rv")
    val subDot =
      s"""list_reduce(list_prepend(0.0, list_transform(
         |      generate_series(1, $subDim), i -> q.v[e.s * $subDim + i] * b.cw[i])),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH $chain,
       |${pqCtesAt(subDim, "rv")},
       |padc AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, e.s, $subDot AS t
       |  FROM probes q JOIN inv x ON x.cl = q.cl AND x.vec_id <> q.vec_id
       |  JOIN penc e ON e.vec_id = x.vec_id
       |  JOIN pb$PqIters b ON b.s = e.s AND b.code = e.code),
       |pscore AS (
       |  SELECT a.query_id, a.neighbor_id,
       |    ${R("list_reduce(list_prepend(0.0, list(a.t ORDER BY a.s)), (x, y) -> x + y)" +
           " / (qn.norm * pn2.rnorm)", 6)} AS adc
       |  FROM padc a
       |  JOIN rv qn ON qn.vec_id = a.query_id
       |  JOIN pnorm pn2 ON pn2.vec_id = a.neighbor_id
       |  GROUP BY a.query_id, a.neighbor_id, qn.norm, pn2.rnorm),
       |pcand AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc DESC, neighbor_id) AS crk
       |  FROM pscore),
       |${topKSql(
      s"""p AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ${R(s"(${dotSqlN("q.v", "x.v", RpDims)}) / (q.norm * x.norm)", 6)} AS cosine
         |  FROM pcand c
         |  JOIN rv q ON q.vec_id = c.query_id
         |  JOIN rv x ON x.vec_id = c.neighbor_id
         |  WHERE c.crk <= $PqRerank)""".stripMargin)}""".stripMargin
  }

  /** Twin of Pq.pqError: the [[pqCtes]] encoder, the s-ordered codeword
    * concat as the reconstruction, max-abs error and original-vs-recon
    * cosine (index-ordered dot over the flattened reconstruction). */
  val simPqError: String = {
    import graft.ext.Pq.PqIters
    s"""WITH $normCte,
       |$pqCtes,
       |prec AS (SELECT e.vec_id, flatten(list(b.cw ORDER BY e.s)) AS rv
       |  FROM penc e JOIN pb$PqIters b ON b.s = e.s AND b.code = e.code
       |  GROUP BY e.vec_id)
       |SELECT n.vec_id,
       |  ${R(s"list_aggregate(list_transform(generate_series(1, $Dim)," +
         " i -> abs(n.v[i] - p.rv[i])), 'max')", 6)} AS max_abs_err,
       |  ${R(s"(${dotSql("n.v", "p.rv")}) / (n.norm * pn.rnorm)", 6)} AS cosine_orig_recon
       |FROM n JOIN prec p ON p.vec_id = n.vec_id
       |JOIN pnorm pn ON pn.vec_id = n.vec_id
       |ORDER BY n.vec_id""".stripMargin
  }

  /** Twin of Similarity.recallAudit: the brute-force top-k as one CTE, each
    * approximate method's FULL registered SQL as a subquery arm, the same
    * per-query |approx ∩ exact| / TopK recall and decimal-mean stats. */
  private def auditArmSql(name: String, sql: String): String =
    s"""SELECT '$name' AS method, COUNT(*) AS n_queries,
       |  ${R(s"${DS("recall")} / COUNT(*)", 4)} AS mean_recall,
       |  ${R("MIN(recall)", 4)} AS min_recall
       |FROM (
       |  SELECT e.query_id,
       |    CAST(COUNT(a.neighbor_id) AS DOUBLE) / $TopK AS recall
       |  FROM exact e
       |  LEFT JOIN (SELECT query_id, neighbor_id FROM ($sql)) a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id)""".stripMargin

  val simRecallAudit: String =
    s"""WITH exact AS (
       |  SELECT query_id, neighbor_id FROM ($simKnnBruteForce))
       |${auditArmSql("ann_ivf", simAnnIvf)}
       |UNION ALL
       |${auditArmSql("ann_ivf_hier", simAnnIvfHier)}
       |UNION ALL
       |${auditArmSql("ann_ivf_hier_spill", simAnnIvfHierSpill)}
       |UNION ALL
       |${auditArmSql("ann_ivf_kmeans", simAnnIvfKmeans)}
       |UNION ALL
       |${auditArmSql("ann_ivf_pq", simAnnIvfPq)}
       |UNION ALL
       |${auditArmSql("ann_ivf_rp", simAnnIvfRp)}
       |UNION ALL
       |${auditArmSql("ann_lsh", simAnnLsh)}
       |UNION ALL
       |${auditArmSql("knn_quantized", simQuantizedKnn)}
       |UNION ALL
       |${auditArmSql("rp_knn", simRpKnn)}
       |ORDER BY method""".stripMargin

  /** Twin of Similarity.recallAuditSampled: the exact arm restricted to the
    * deterministic [[graft.ext.Similarity.SampleAuditQueries]]-query
    * sample; arms are the deployment-path quantizers. */
  val simRecallAuditSampled: String = {
    import graft.ext.Similarity.SampleAuditQueries
    s"""WITH $normCte,
       |aq AS (SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY ${mixSql("vec_id")}, vec_id) AS rk
       |    FROM n) WHERE rk <= $SampleAuditQueries),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${R(s"(${dotSql("q.v", "x.v")}) / (q.norm * x.norm)", 6)} DESC, x.vec_id) AS rk
       |    FROM n q JOIN aq ON aq.vec_id = q.vec_id
       |    JOIN n x ON x.vec_id <> q.vec_id) WHERE rk <= $TopK)
       |${auditArmSql("ann_ivf_hier", simAnnIvfHier)}
       |UNION ALL
       |${auditArmSql("ann_ivf_hier_spill", simAnnIvfHierSpill)}
       |UNION ALL
       |${auditArmSql("ann_ivf_kmeans", simAnnIvfKmeans)}
       |UNION ALL
       |${auditArmSql("ann_ivf_pq", simAnnIvfPq)}
       |ORDER BY method""".stripMargin
  }

  /** Twin of AsOf.purchaseAsOfView: the identical union + IGNORE NULLS
    * carry-forward window (not DuckDB's native ASOF JOIN, whose tie rule at
    * equal timestamps is not spelled out — this formulation pins ties). */
  val eventsAsofPurchaseView: String =
    s"""WITH tagged AS (
       |  SELECT user_id, ts, 0 AS side, event_id, event_id AS view_event_id, ts AS view_ts
       |  FROM events WHERE event_type = 'view'
       |  UNION ALL
       |  SELECT user_id, ts, 1 AS side, event_id, NULL, NULL
       |  FROM events WHERE event_type = 'purchase'),
       |carried AS (
       |  SELECT *,
       |    last_value(view_event_id IGNORE NULLS) OVER w AS asof_view_id,
       |    last_value(view_ts IGNORE NULLS) OVER w AS asof_view_ts
       |  FROM tagged
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
       |               ROWS UNBOUNDED PRECEDING))
       |SELECT event_id AS purchase_event_id, user_id,
       |  make_timestamp(epoch_us(ts)) AS purchase_ts,
       |  asof_view_id AS view_event_id,
       |  make_timestamp(epoch_us(asof_view_ts)) AS view_ts,
       |  ${R("(epoch_us(ts) - epoch_us(asof_view_ts)) / 1e6", 2)} AS seconds_since_view
       |FROM carried WHERE side = 1
       |ORDER BY purchase_event_id""".stripMargin

  /** Twin of Events.purchaseAttribution: the same range join through
    * epoch_us so the µs-truncated Spark timestamps and DuckDB's ns clocks
    * agree on the interval boundaries. */
  val eventsPurchaseAttribution: String =
    """SELECT p.event_id AS purchase_event_id, p.user_id,
      |  make_timestamp(epoch_us(p.ts)) AS purchase_ts, p.value,
      |  COUNT(v.ts) AS views_1h,
      |  make_timestamp(epoch_us(MAX(v.ts))) AS last_view_ts
      |FROM events p
      |LEFT JOIN events v
      |  ON v.user_id = p.user_id AND v.event_type = 'view'
      |  AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
      |  AND epoch_us(v.ts) < epoch_us(p.ts)
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id, p.ts, p.value
      |ORDER BY purchase_event_id""".stripMargin

  /** Twin of Corpus.packSequences (concatenate-then-chunk packing). */
  val corpusPackSequences: String = {
    import graft.ext.Corpus.SeqLen
    import graft.ext.Text.BpePattern
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens
       |  FROM documents),
       |packed AS (
       |  SELECT *,
       |    COALESCE(CAST(SUM(n_bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      AS start_offset
       |  FROM toks)
       |SELECT doc_id, lang, n_bpe_tokens, start_offset,
       |  CAST(start_offset // $SeqLen AS BIGINT) AS seq_id,
       |  start_offset % $SeqLen AS offset_in_seq,
       |  start_offset % $SeqLen + n_bpe_tokens > $SeqLen AS straddles_boundary
       |FROM packed
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Corpus.exportShards — the pack CTE re-aggregated to sequence
    * grain, a plain global row_number standing in for the distributed rank
    * operator, fixed [[graft.ext.Corpus.ShardSeqs]] cut, shard manifest. */
  val corpusExportShards: String = {
    import graft.ext.Corpus.{SeqLen, ShardSeqs}
    import graft.ext.Text.BpePattern
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens
       |  FROM documents),
       |packed AS (
       |  SELECT *,
       |    COALESCE(CAST(SUM(n_bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      AS start_offset
       |  FROM toks),
       |seqs AS (
       |  SELECT lang, CAST(start_offset // $SeqLen AS BIGINT) AS seq_id,
       |    count(*) AS n_docs, sum(n_bpe_tokens) AS n_tokens
       |  FROM packed GROUP BY lang, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY lang, seq_id) AS rn FROM seqs)
       |SELECT CAST((rn - 1) // $ShardSeqs AS BIGINT) AS shard,
       |  count(*) AS n_seqs,
       |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  count(DISTINCT lang) AS n_langs
       |FROM ranked
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  /** Twin of Corpus.slidingWindows — the same 1-based list_slice windows
    * off a generate_series of window ids. */
  val corpusSlidingWindows: String = {
    import graft.ext.Corpus.{WindowTokens, WindowStride}
    s"""WITH base AS (
       |  SELECT doc_id, $toks AS toks, CAST(len($toks) AS BIGINT) AS n_toks
       |  FROM documents WHERE len($toks) > 0),
       |w AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, CAST((n_toks - 1) // $WindowStride AS BIGINT))) AS window_id
       |  FROM base)
       |SELECT doc_id, window_id,
       |  window_id * $WindowStride AS start_token,
       |  CAST(len(list_slice(toks, CAST(window_id * $WindowStride + 1 AS BIGINT),
       |    CAST(window_id * $WindowStride + $WindowTokens AS BIGINT))) AS BIGINT)
       |    AS n_window_tokens,
       |  array_to_string(list_slice(toks, CAST(window_id * $WindowStride + 1 AS BIGINT),
       |    CAST(window_id * $WindowStride + $WindowTokens AS BIGINT)), ' ')
       |    AS window_text
       |FROM w
       |ORDER BY doc_id, window_id""".stripMargin
  }

  /** Twin of Corpus.lengthBatches: global row_number over (token count,
    * doc_id) cut into fixed-size batches. The oracle spells the global order
    * as a plain window; the engine uses the distributed rank operator —
    * identical assignment by construction. */
  val corpusLengthBatches: String = {
    import graft.ext.Corpus.BatchSize
    import graft.ext.Text.BpePattern
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens
       |  FROM documents)
       |SELECT doc_id, lang, n_bpe_tokens,
       |  CAST((ROW_NUMBER() OVER (ORDER BY n_bpe_tokens, doc_id) - 1)
       |    // $BatchSize AS BIGINT) AS batch_id
       |FROM toks
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Corpus.batchPaddingStats. */
  val corpusBatchPadding: String =
    s"""WITH batches AS ($corpusLengthBatches)
       |SELECT batch_id,
       |  count(*) AS n_docs,
       |  max(n_bpe_tokens) AS max_tokens,
       |  CAST(sum(n_bpe_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(count(*) * max(n_bpe_tokens) - sum(n_bpe_tokens) AS BIGINT) AS padding_tokens
       |FROM batches
       |GROUP BY batch_id
       |ORDER BY batch_id""".stripMargin

  /** Twin of Corpus.tokenBudgetMix — all-integer threshold math, shared
    * mixer, budget = 6/10 of the largest source's tokens. */
  val corpusTokenBudgetMix: String = {
    import graft.ext.Corpus.{BudgetNum, BudgetDen, MixResolution}
    import graft.ext.Text.BpePattern
    s"""WITH per_doc AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens
       |  FROM documents),
       |per_source AS (
       |  SELECT source, CAST(sum(n_bpe_tokens) AS BIGINT) AS src_tokens
       |  FROM per_doc GROUP BY source),
       |budget AS (
       |  SELECT CAST((max(src_tokens) * $BudgetNum) // $BudgetDen AS BIGINT) AS budget
       |  FROM per_source),
       |thresholds AS (
       |  SELECT source, src_tokens,
       |    least($MixResolution,
       |      CAST((budget * $MixResolution) // src_tokens AS BIGINT)) AS keep_threshold
       |  FROM per_source CROSS JOIN budget)
       |SELECT d.source, t.src_tokens, t.keep_threshold,
       |  count(*) AS n_docs_kept,
       |  CAST(sum(d.n_bpe_tokens) AS BIGINT) AS tokens_kept
       |FROM per_doc d JOIN thresholds t ON d.source = t.source
       |WHERE ${mixSql("d.doc_id")} % $MixResolution < t.keep_threshold
       |GROUP BY d.source, t.src_tokens, t.keep_threshold
       |ORDER BY d.source""".stripMargin
  }

  /** Twin of Corpus.rebalancedMix / Corpus.temperatureMix — target weights
    * given by `wExpr` over src_tokens, bottleneck source by exact integer
    * ratio, keep decision via integer cross-multiplication. */
  private def corpusMixToWeights(wExpr: String): String = {
    import graft.ext.Corpus.MixResolution
    import graft.ext.Text.BpePattern
    s"""WITH per_doc AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens
       |  FROM documents),
       |per_source0 AS (
       |  SELECT source, CAST(sum(n_bpe_tokens) AS BIGINT) AS src_tokens
       |  FROM per_doc GROUP BY source),
       |per_source AS (
       |  SELECT source, src_tokens, CAST($wExpr AS BIGINT) AS w
       |  FROM per_source0),
       |m AS (
       |  SELECT src_tokens AS t_m, w AS w_m FROM per_source
       |  ORDER BY CAST((src_tokens * $MixResolution) // w AS BIGINT), source
       |  LIMIT 1),
       |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
       |    CAST(sum(w) AS BIGINT) AS tot_w FROM per_source),
       |kept AS (
       |  SELECT d.source, count(*) AS n_docs_kept,
       |    CAST(sum(d.n_bpe_tokens) AS BIGINT) AS tokens_after
       |  FROM per_doc d JOIN per_source s ON d.source = s.source CROSS JOIN m
       |  WHERE (${mixSql("d.doc_id")} % $MixResolution) * (m.w_m * s.src_tokens)
       |      < $MixResolution * (m.t_m * s.w)
       |  GROUP BY d.source),
       |aft AS (SELECT s.source, s.src_tokens, s.w,
       |    CAST(COALESCE(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
       |    CAST(COALESCE(k.tokens_after, 0) AS BIGINT) AS tokens_after
       |  FROM per_source s LEFT JOIN kept k ON s.source = k.source),
       |aft_tot AS (SELECT CAST(sum(tokens_after) AS BIGINT) AS tot_after FROM aft)
       |SELECT a.source, a.src_tokens AS tokens_before,
       |  ${R("100.0 * a.src_tokens / tot.tot_tokens", 2)} AS share_before_pct,
       |  ${R("100.0 * a.w / tot.tot_w", 2)} AS target_share_pct,
       |  a.n_docs_kept, a.tokens_after,
       |  ${R("100.0 * a.tokens_after / aft_tot.tot_after", 2)} AS share_after_pct
       |FROM aft a, tot, aft_tot
       |ORDER BY a.source""".stripMargin
  }

  val corpusRebalancedMix: String = corpusMixToWeights("1")

  /** Exact integer sqrt in SQL — the [[graft.engine.Num.isqrt]] twin: IEEE
    * sqrt seed + one integer correction step each way, compared via
    * division so nothing overflows at any BIGINT magnitude. */
  private def isqrtSql(t: String): String = {
    val w0 = s"CAST(FLOOR(SQRT(CAST($t AS DOUBLE))) AS BIGINT)"
    s"""($w0 + (CASE WHEN $t // ($w0 + 1) >= $w0 + 1 THEN 1 ELSE 0 END)
       |      - (CASE WHEN $t // GREATEST($w0, 1) < $w0 THEN 1 ELSE 0 END))""".stripMargin
  }

  val corpusTemperatureMix: String =
    corpusMixToWeights(s"GREATEST(1, ${isqrtSql("src_tokens")})")

  /** Twin of Corpus.epochPlan — temperature weights (exact integer sqrt),
    * ppm shares/epochs via `//`, BIGINT cap arithmetic. */
  val corpusEpochPlan: String = {
    import graft.ext.Corpus.{EpochBudgetX, EpochCap}
    import graft.ext.Text.BpePattern
    s"""WITH per_source AS (
       |  SELECT source, CAST(sum(len(regexp_extract_all(text, '$BpePattern'))) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY source),
       |ws AS (SELECT source, src_tokens,
       |    GREATEST(1, ${isqrtSql("src_tokens")}) AS w FROM per_source),
       |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
       |    CAST(sum(w) AS BIGINT) AS tot_w FROM ws),
       |pl AS (SELECT s.source, s.src_tokens, s.w,
       |    CAST((s.w * 1000000) // tot.tot_w AS BIGINT) AS target_share_ppm,
       |    CAST((s.w * ($EpochBudgetX * tot.tot_tokens)) // tot.tot_w AS BIGINT)
       |      AS target_tokens
       |  FROM ws s, tot)
       |SELECT source, src_tokens, CAST(w AS BIGINT) AS weight,
       |  target_share_ppm, target_tokens,
       |  CAST((target_tokens * 1000000) // src_tokens AS BIGINT) AS epochs_ppm,
       |  (target_tokens * 1000000) // src_tokens > ${EpochCap * 1000000L}
       |    AS over_cap,
       |  LEAST(target_tokens, $EpochCap * src_tokens) AS served_tokens,
       |  target_tokens - LEAST(target_tokens, $EpochCap * src_tokens)
       |    AS shortfall_tokens
       |FROM pl
       |ORDER BY source""".stripMargin
  }

  /** Twin of Dedup.chunkRewrite — identical chunking to
    * [[dedupChunkSpans]], first-occurrence keep rule (row_number over
    * (doc_id, i) per chunk), ordered reassembly + verbatim tail. */
  val dedupChunkRewrite: String = {
    val C = graft.ext.Dedup.ChunkTokens
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |c AS (SELECT doc_id, CAST(len(toks) // $C AS BIGINT) AS n_chunks,
       |    toks FROM t),
       |tl AS (SELECT doc_id, n_chunks, toks,
       |    list_slice(toks, CAST(n_chunks * $C + 1 AS BIGINT), len(toks)) AS tail_toks
       |  FROM c),
       |ix AS (SELECT doc_id, toks, unnest(generate_series(1, CAST(n_chunks AS INT))) AS i
       |  FROM c WHERE n_chunks > 0),
       |occ AS (SELECT doc_id, i,
       |    array_to_string(list_slice(toks, (i - 1) * $C + 1, i * $C), ' ') AS chunk
       |  FROM ix),
       |fo AS (SELECT doc_id, i, chunk,
       |    (row_number() OVER (PARTITION BY chunk ORDER BY doc_id, i)) = 1 AS keep
       |  FROM occ),
       |kept AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS dropped_chunks,
       |    list(chunk ORDER BY i) FILTER (WHERE keep) AS kept_chunks
       |  FROM fo GROUP BY doc_id)
       |SELECT tl.doc_id, tl.n_chunks,
       |  COALESCE(k.dropped_chunks, 0) AS dropped_chunks,
       |  COALESCE(array_to_string(
       |    list_concat(COALESCE(k.kept_chunks, CAST([] AS VARCHAR[])), tl.tail_toks),
       |    ' '), '') AS text_rewritten
       |FROM tl LEFT JOIN kept k ON tl.doc_id = k.doc_id
       |ORDER BY tl.doc_id""".stripMargin
  }

  /** Twin of Events.userTypePivot (explicit conditional counts — the
    * engine-portable spelling of PIVOT). */
  val eventsUserTypePivot: String = {
    import graft.ext.Events.EventTypes
    val cols = EventTypes.map(t =>
      s"count(CASE WHEN event_type = '$t' THEN 1 END) AS $t")
    s"""SELECT user_id, ${cols.mkString(", ")},
       |  count(*) AS total_events
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Twin of Gold.revenueRollup. DuckDB GROUPING(a, b) returns the same
    * MSB-first bitmask as Spark's grouping_id(); NULLS FIRST spelled out to
    * match Spark's asc_nulls_first ordering of subtotal rows. */
  val revenueRollup: String =
    s"""WITH ${Oracles.silverCtes},
       |j AS (
       |  SELECT g.region_name, g.nation_name, od.net_revenue
       |  FROM od JOIN geo g ON od.customer_key = g.customer_key)
       |SELECT region_name, nation_name,
       |  count(*) AS n_lines,
       |  ${R(DS("net_revenue"), 2)} AS total_revenue,
       |  GROUPING(region_name, nation_name) AS gid
       |FROM j GROUP BY ROLLUP(region_name, nation_name)
       |ORDER BY gid, region_name NULLS FIRST, nation_name NULLS FIRST""".stripMargin

  // ------------------------------------------------------- sampling twins

  /** Twin of Sampling.mixHash. */
  private def mixSql(key: String): String = {
    val h0 = s"(($key + 1) * $MixA % $M32)"
    val m = s"(xor($h0, $h0 >> 16) % $M31)"
    s"($m * $MixB % $M32)"
  }

  val samplingSplit: String = {
    import graft.ext.Sampling.{TrainPct, ValPct}
    s"""SELECT doc_id, lang, ${mixSql("doc_id")} % 100 AS bucket,
       |  CASE WHEN ${mixSql("doc_id")} % 100 < $TrainPct THEN 'train'
       |       WHEN ${mixSql("doc_id")} % 100 < ${TrainPct + ValPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Twin of Sampling.testSetContamination — split formula + shingle CTE +
    * cross-split shingle probe. */
  val samplingContamination: String = {
    import graft.ext.Sampling.{TrainPct, ValPct}
    s"""WITH $shinglesCte,
       |split AS (
       |  SELECT doc_id,
       |    CASE WHEN ${mixSql("doc_id")} % 100 < $TrainPct THEN 'train'
       |         WHEN ${mixSql("doc_id")} % 100 < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |shs AS (SELECT sh.doc_id, sh.shingle, s.split
       |        FROM sh JOIN split s ON sh.doc_id = s.doc_id),
       |train_sh AS (SELECT DISTINCT shingle FROM shs WHERE split = 'train'),
       |test_sh AS (SELECT doc_id, shingle FROM shs WHERE split = 'test')
       |SELECT t.doc_id,
       |  count(*) AS n_shingles,
       |  count(tr.shingle) AS n_contaminated,
       |  ${R("CAST(count(tr.shingle) AS DOUBLE) / count(*)", 4)} AS contamination_ratio
       |FROM test_sh t LEFT JOIN train_sh tr ON t.shingle = tr.shingle
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Twin of Sampling.decontaminatedTrain — the removal half of the
    * contamination probe: train docs kept iff their leaked-shingle share
    * stays within DeconMaxLeakPct. */
  val samplingDeconTrain: String = {
    import graft.ext.Sampling.{TrainPct, ValPct, DeconMaxLeakPct}
    s"""WITH $shinglesCte,
       |split AS (
       |  SELECT doc_id,
       |    CASE WHEN ${mixSql("doc_id")} % 100 < $TrainPct THEN 'train'
       |         WHEN ${mixSql("doc_id")} % 100 < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |shs AS (SELECT sh.doc_id, sh.shingle, s.split
       |        FROM sh JOIN split s ON sh.doc_id = s.doc_id),
       |test_sh AS (SELECT DISTINCT shingle FROM shs WHERE split = 'test'),
       |leak AS (
       |  SELECT t.doc_id,
       |    count(*) AS n_shingles,
       |    count(ts.shingle) AS n_leaked
       |  FROM shs t LEFT JOIN test_sh ts ON t.shingle = ts.shingle
       |  WHERE t.split = 'train'
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  coalesce(l.n_shingles, 0) AS n_shingles,
       |  coalesce(l.n_leaked, 0) AS n_leaked,
       |  ${R("CASE WHEN coalesce(l.n_shingles, 0) = 0 THEN 0.0 " +
            "ELSE CAST(coalesce(l.n_leaked, 0) AS DOUBLE) / l.n_shingles END", 4)}
       |    AS leak_ratio
       |FROM split d LEFT JOIN leak l ON d.doc_id = l.doc_id
       |WHERE d.split = 'train'
       |  AND coalesce(l.n_leaked, 0) * 100 <= coalesce(l.n_shingles, 0) * $DeconMaxLeakPct
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The synthetic-PII twin corpus — textual mirror of
    * Pii.withSyntheticPii (the fixture carries no PII; both engines append
    * identical doc_id-derived identifiers). */
  // NB: no line may begin with '||' — this CTE is interpolated into outer
  // stripMargin strings, which would strip one pipe of a leading '||'
  private val piiMessyCte: String =
    s"""messy AS (
       |  SELECT doc_id, concat(text,
       |    CASE WHEN doc_id % 2 = 0 THEN concat(' host 10.', CAST(doc_id % 256 AS VARCHAR),
       |      '.0.', CAST((doc_id * 3) % 256 AS VARCHAR)) ELSE '' END,
       |    CASE WHEN doc_id % 3 = 0 THEN concat(' mail user', CAST(doc_id AS VARCHAR),
       |      '@example.com') ELSE '' END,
       |    CASE WHEN doc_id % 4 = 0 THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
       |      '-', lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
       |    CASE WHEN doc_id % 5 = 0 THEN concat(' ssn 123-45-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
       |      ELSE '' END)
       |    AS text
       |  FROM documents)""".stripMargin

  private def piiCount(re: String): String =
    s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT)"

  /** Twin of Pii.scan. */
  /** Twin of Pii.kAnonymity — one grouped aggregate, identical thresholds. */
  val piiKAnonymity: String = {
    import graft.ext.Pii.{AnonK, DiversityL}
    val sign = "CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END"
    s"""SELECT c_nationkey, c_mktsegment,
       |  count(*) AS group_size,
       |  count(DISTINCT $sign) AS sensitive_ndv,
       |  count(*) >= $AnonK AS k_anonymous,
       |  count(DISTINCT $sign) >= $DiversityL AS l_diverse
       |FROM customer
       |GROUP BY c_nationkey, c_mktsegment
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin
  }

  val piiScan: String = {
    import graft.ext.Pii._
    s"""WITH $piiMessyCte
       |SELECT doc_id,
       |  ${piiCount(EmailRe)} AS n_emails,
       |  ${piiCount(SsnRe)} AS n_ssns,
       |  ${piiCount(PhoneRe)} AS n_phones,
       |  ${piiCount(Ipv4Re)} AS n_ips,
       |  (${piiCount(EmailRe)} + ${piiCount(SsnRe)} + ${piiCount(PhoneRe)}
       |    + ${piiCount(Ipv4Re)}) > 0 AS has_pii
       |FROM messy
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Pii.redacted — same pattern order, 'g' flag (Spark replaces
    * globally by default; DuckDB needs the flag). */
  val piiRedacted: String = {
    import graft.ext.Pii._
    val clean = Redactions.foldLeft("text") {
      case (e, (re, tag)) => s"regexp_replace($e, '$re', '$tag', 'g')"
    }
    s"""WITH $piiMessyCte
       |SELECT doc_id,
       |  (${piiCount(EmailRe)} + ${piiCount(SsnRe)} + ${piiCount(PhoneRe)}
       |    + ${piiCount(Ipv4Re)}) AS n_redactions,
       |  $clean AS redacted_text
       |FROM messy
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Sketch.tableProfile — per profiled column: exact stats + the
    * KMV order-statistic NDV sketch, replayed verbatim (DISTINCT → ORDER BY
    * mixed hash → LIMIT k → max). Doubles hash their cent-scaled integer,
    * exactly like the Spark side. */
  val sketchTableProfile: String = {
    import graft.ext.Sketch.{KmvK, ProfiledColumns}
    import graft.ext.Similarity.M32
    def arm(t: String, c: String, scaled: Boolean): String = {
      val key = if (scaled) s"CAST(floor($c * 100 + 0.5) AS BIGINT)" else c
      val est = s"CASE WHEN k.n_kept < $KmvK THEN CAST(k.n_kept AS DOUBLE) " +
        s"ELSE ${R(s"CAST(${KmvK - 1} AS DOUBLE) * $M32 / k.h_k", 2)} END"
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  s.n_rows, s.n_nulls, s.ndv_exact,
         |  $est AS ndv_kmv,
         |  ${R(s"abs(($est) - s.ndv_exact) / greatest(CAST(s.ndv_exact AS DOUBLE), 1.0)", 4)}
         |    AS kmv_rel_err,
         |  s.min_value, s.max_value
         |FROM (
         |  SELECT count(*) AS n_rows, count(*) - count($c) AS n_nulls,
         |    count(DISTINCT $c) AS ndv_exact,
         |    CAST(min($c) AS DOUBLE) AS min_value,
         |    CAST(max($c) AS DOUBLE) AS max_value
         |  FROM $t) s,
         |(
         |  SELECT count(*) AS n_kept, max(h) AS h_k FROM (
         |    SELECT DISTINCT ${mixSql(key)} AS h FROM $t
         |    WHERE $c IS NOT NULL ORDER BY h LIMIT $KmvK)) k""".stripMargin
    }
    val doubles = Set("o_totalprice", "l_quantity")
    ProfiledColumns
      .map { case (t, c) => arm(t, c, doubles(c)) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name")
  }

  /** Twin of Sketch.statsProfileFromDeltas — the PRODUCTION profile columns
    * computed from the full tables. The Spark side folds three hash-sliced
    * delta states per table; state mergeability means the fold must equal
    * this from-scratch computation bit-for-bit (the same proof device as
    * `incr_monthly_revenue`). */
  val sketchStatsIncremental: String = {
    import graft.ext.Sketch.{KmvK, ProfiledColumns}
    import graft.ext.Similarity.M32
    def arm(t: String, c: String, scaled: Boolean): String = {
      val key = if (scaled) s"CAST(floor($c * 100 + 0.5) AS BIGINT)" else c
      val est = s"CASE WHEN k.n_kept < $KmvK THEN CAST(k.n_kept AS DOUBLE) " +
        s"ELSE ${R(s"CAST(${KmvK - 1} AS DOUBLE) * $M32 / k.h_k", 2)} END"
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  s.n_rows, s.n_nulls,
         |  $est AS ndv_kmv,
         |  s.min_value, s.max_value
         |FROM (
         |  SELECT count(*) AS n_rows, count(*) - count($c) AS n_nulls,
         |    CAST(min($c) AS DOUBLE) AS min_value,
         |    CAST(max($c) AS DOUBLE) AS max_value
         |  FROM $t) s,
         |(
         |  SELECT count(*) AS n_kept, max(h) AS h_k FROM (
         |    SELECT DISTINCT ${mixSql(key)} AS h FROM $t
         |    WHERE $c IS NOT NULL ORDER BY h LIMIT $KmvK)) k""".stripMargin
    }
    val doubles = Set("o_totalprice", "l_quantity")
    ProfiledColumns
      .map { case (t, c) => arm(t, c, doubles(c)) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name")
  }

  /** Twin of Sketch.quantileProfile — bottom-k-by-(hash, row-key) sample +
    * exact audit arm, quantile_cont over the same canonical integers
    * Spark's `percentile` interpolates. */
  val sketchQuantileProfile: String = {
    import graft.ext.Sketch.{QSampleK, QuantilePcts, ProfiledColumns}
    val keys = Map("orders" -> "o_orderkey",
      "lineitem" -> "(l_orderkey * 8 + l_linenumber)",
      "customer" -> "c_custkey", "events" -> "event_id")
    val doubles = Set("o_totalprice", "l_quantity")
    def arm(t: String, c: String): String = {
      val cv = if (doubles(c)) s"CAST(floor($c * 100 + 0.5) AS BIGINT)" else c
      val scale = if (doubles(c)) "100.0" else "1.0"
      val rk = keys(t)
      val sampleQ = QuantilePcts.map(p =>
        s"${R(s"quantile_cont(cv, ${p / 100.0}) / $scale", 2)} AS p${p}_sample")
        .mkString(",\n    ")
      val exactQ = QuantilePcts.map(p =>
        s"${R(s"quantile_cont($cv, ${p / 100.0}) / $scale", 2)} AS p${p}_exact")
        .mkString(",\n    ")
      val errTerms = QuantilePcts.map(p =>
        s"abs(s.p${p}_sample - e.p${p}_exact) / GREATEST(abs(e.p${p}_exact), 1.0)")
      val pairCols = QuantilePcts
        .map(p => s"s.p${p}_sample, e.p${p}_exact").mkString(", ")
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  e.n_rows, s.m_sample, $pairCols,
         |  ${R(s"GREATEST(${errTerms.mkString(", ")})", 4)} AS max_rel_err
         |FROM (
         |  SELECT count(*) AS m_sample,
         |    $sampleQ
         |  FROM (SELECT $cv AS cv FROM $t WHERE $c IS NOT NULL
         |        ORDER BY ${mixSql(rk)}, $rk, cv LIMIT $QSampleK)) s,
         |(
         |  SELECT count(*) AS n_rows,
         |    $exactQ
         |  FROM $t WHERE $c IS NOT NULL) e""".stripMargin
    }
    ProfiledColumns.map { case (t, c) => arm(t, c) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name")
  }

  /** Twin of Sketch.statsDriftFromSlices — both profiles (slice-0 baseline,
    * full corpus) rebuilt from the tables, then the identical drift
    * arithmetic and gates. */
  val sketchStatsDrift: String = {
    import graft.ext.Sketch.{KmvK, ProfiledColumns, DriftNullRatePp, DriftNdvFactor}
    import graft.ext.Similarity.M32
    val keys = Map("orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
      "customer" -> "c_custkey", "events" -> "user_id")
    val doubles = Set("o_totalprice", "l_quantity")
    def arm(slice: Int, t: String, c: String): String = {
      val key = if (doubles(c)) s"CAST(floor($c * 100 + 0.5) AS BIGINT)" else c
      val sliceCond =
        if (slice == 0) Seq(s"${mixSql(s"COALESCE(${keys(t)}, -1)")} % 3 = 0")
        else Seq.empty
      def where(conds: Seq[String]) =
        if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "")
      val est = s"CASE WHEN k.n_kept < $KmvK THEN CAST(k.n_kept AS DOUBLE) " +
        s"ELSE ${R(s"CAST(${KmvK - 1} AS DOUBLE) * $M32 / k.h_k", 2)} END"
      s"""SELECT $slice AS slice, '$t' AS table_name, '$c' AS column_name,
         |  s.n_rows, s.n_nulls, $est AS ndv_kmv, s.min_value, s.max_value
         |FROM (
         |  SELECT count(*) AS n_rows, count(*) - count($c) AS n_nulls,
         |    CAST(min($c) AS DOUBLE) AS min_value,
         |    CAST(max($c) AS DOUBLE) AS max_value
         |  FROM $t ${where(sliceCond)}) s,
         |(
         |  SELECT count(*) AS n_kept, max(h) AS h_k FROM (
         |    SELECT DISTINCT ${mixSql(key)} AS h FROM $t
         |    ${where(sliceCond :+ s"$c IS NOT NULL")} ORDER BY h LIMIT $KmvK)) k""".stripMargin
    }
    val arms = (for (slice <- Seq(0, 1); (t, c) <- ProfiledColumns)
      yield arm(slice, t, c)).mkString("\nUNION ALL\n")
    val rowGrowth = "(CAST(a.n_rows AS DOUBLE) / GREATEST(b.n_rows, 1))"
    val ndvGrowth = "(a.ndv_kmv / GREATEST(b.ndv_kmv, 1.0))"
    def nullRate(p: String) = s"(100.0 * $p.n_nulls / GREATEST($p.n_rows, 1))"
    s"""WITH prof AS (
       |$arms),
       |b AS (SELECT * FROM prof WHERE slice = 0),
       |a AS (SELECT * FROM prof WHERE slice = 1)
       |SELECT b.table_name, b.column_name,
       |  b.n_rows AS rows_before, a.n_rows AS rows_after,
       |  ${R(rowGrowth, 4)} AS row_growth,
       |  ${R(nullRate("b"), 2)} AS null_pct_before,
       |  ${R(nullRate("a"), 2)} AS null_pct_after,
       |  (abs(${nullRate("a")} - ${nullRate("b")}) >= $DriftNullRatePp)
       |    AS null_rate_drift,
       |  (a.min_value < b.min_value OR a.max_value > b.max_value)
       |    AS range_expanded,
       |  ${R(ndvGrowth, 4)} AS ndv_growth,
       |  ($ndvGrowth >= $DriftNdvFactor * $rowGrowth) AS ndv_outpaced_rows
       |FROM b JOIN a USING (table_name, column_name)
       |ORDER BY table_name, column_name""".stripMargin
  }

  /** Twin of Corpus.mixBySourceWeight. */
  val corpusMix: String =
    s"""SELECT source, count(*) AS n_kept
       |FROM documents
       |WHERE ${mixSql("doc_id")} % 100 <
       |  (CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0 THEN 100 ELSE 50 END)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Twin of Corpus.preprocess: quality stats CTE + minhash pairs CTE +
    * split formula, composed exactly like the Spark plan. */
  lazy val corpusPreprocess: String = {
    import graft.ext.Sampling.{TrainPct, ValPct}
    import graft.ext.Corpus.QualityThreshold
    s"""WITH stats AS ($textStats),
       |pairs AS ($dedupMinhashLsh),
       |split AS (
       |  SELECT doc_id,
       |    CASE WHEN ${mixSql("doc_id")} % 100 < $TrainPct THEN 'train'
       |         WHEN ${mixSql("doc_id")} % 100 < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |SELECT s.doc_id, s.lang, s.quality_score, sp.split
       |FROM stats s JOIN split sp ON s.doc_id = sp.doc_id
       |WHERE s.lang = 'en' AND s.quality_score >= $QualityThreshold
       |  AND s.doc_id NOT IN (SELECT doc_b FROM pairs)
       |ORDER BY s.doc_id""".stripMargin
  }

  val samplingStratum: String = {
    import graft.ext.Sampling.StratumK
    s"""WITH ranked AS (
       |  SELECT lang, doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY ${mixSql("doc_id")}, doc_id) AS INTEGER) AS sample_rank
       |  FROM documents)
       |SELECT lang, sample_rank, doc_id, source FROM ranked
       |WHERE sample_rank <= $StratumK
       |ORDER BY lang, sample_rank""".stripMargin
  }

  /** Twin of Multimodal.kindSummary. The "media" corpus is a pure function of
    * doc_id (Multimodal.scala: dims/kind from doc_id mod-classes, payload from
    * a 64-bit LCG s = s*6364136223846793005 + 1442695040888963407 taking the
    * top byte), so the stubbed codec's output is exactly computable in SQL:
    * HUGEINT arithmetic mod 2^64 reproduces Scala's wrapping Long, and
    * `s // 2^56` is the unsigned top byte the fake decoder averages. */
  /** Twin of Multimodal.resizeSummary — the aspect-preserving geometry
    * (scale = min(1, min(box/w, box/h)), floor-to-int, 1-px floor) in SQL.
    * DuckDB CAST(double AS INT) ROUNDS, so the truncation is an explicit
    * FLOOR (Scala `.toInt` truncates toward zero; dims are positive). */
  val mediaResizeSummary: String = {
    val box = graft.ext.Multimodal.ResizeBox
    s"""WITH media AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    CAST(CASE WHEN doc_id % 3 = 2 THEN 48 + (doc_id % 8) * 16
       |              ELSE 64 + (doc_id % 8) * 32 END AS INTEGER) AS w0,
       |    CAST(CASE WHEN doc_id % 3 = 2 THEN 36 + (doc_id % 5) * 16
       |              ELSE 64 + (doc_id % 5) * 32 END AS INTEGER) AS h0
       |  FROM documents),
       |resized AS (
       |  SELECT kind, w0, h0,
       |    GREATEST(1, CAST(FLOOR(w0 * LEAST(1.0, LEAST($box.0 / w0, $box.0 / h0)))
       |      AS INTEGER)) AS w1,
       |    GREATEST(1, CAST(FLOOR(h0 * LEAST(1.0, LEAST($box.0 / w0, $box.0 / h0)))
       |      AS INTEGER)) AS h1
       |  FROM media)
       |SELECT kind,
       |  count(*) AS n_media,
       |  CAST(sum(w1) AS BIGINT) AS sum_width,
       |  CAST(sum(h1) AS BIGINT) AS sum_height,
       |  count(CASE WHEN w1 < w0 OR h1 < h0 THEN 1 END) AS n_downscaled
       |FROM resized
       |GROUP BY kind
       |ORDER BY kind""".stripMargin
  }

  /** Twin of Multimodal.phashPairs. The tiled phash corpus is a pure
    * function of the CONTENT id (Multimodal.phashContentId: id, or id−4
    * for the planted near-dup variants, which also lift tile 0 by +1
    * capped at 255): tile t's decoded gray level is LCG step t+1 of cid,
    * so the 64-bit average hash, the 4×16-bit bands, the banded candidate
    * pairs, and the exact Hamming verify all replay in integer SQL. The
    * signed 64-bit pack splits bit 63 into an explicit −2⁶³ term (SUM runs
    * in HUGEINT, the final value is in-range); DuckDB's `>> & 65535` band
    * extraction and `bit_count(xor(…))` match Java's arithmetic-shift +
    * mask + popcount bit-for-bit (verified on the sign bit). */
  val mediaPhashPairs: String = {
    import graft.ext.Multimodal.PhashHammingMax
    val A = "6364136223846793005"
    val C = "1442695040888963407"
    val M64 = "18446744073709551616" // 2^64
    val TOP = "72057594037927936" // 2^56
    s"""WITH RECURSIVE ids AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 7 THEN doc_id - 4 ELSE doc_id END AS cid
       |  FROM documents),
       |gen AS (
       |  SELECT doc_id, 0 AS i,
       |    ((CAST(cid AS HUGEINT) * $A + $C) % $M64) AS s
       |  FROM ids
       |  UNION ALL
       |  SELECT doc_id, i + 1, ((s * $A + $C) % $M64) FROM gen WHERE i < 64),
       |lv AS (
       |  SELECT g.doc_id, g.i - 1 AS t,
       |    CASE WHEN g.doc_id % 10 = 7 AND g.i = 1
       |         THEN LEAST(255, s // $TOP + 1) ELSE s // $TOP END AS l
       |  FROM gen g WHERE g.i >= 1),
       |tot AS (SELECT doc_id, CAST(SUM(l) AS BIGINT) AS total FROM lv GROUP BY doc_id),
       |bits AS (
       |  SELECT lv.doc_id, CAST(t AS INT) AS t,
       |    CASE WHEN 64 * l > total THEN 1 ELSE 0 END AS bit
       |  FROM lv JOIN tot USING (doc_id)),
       |hash AS (
       |  SELECT doc_id, CAST(SUM(CASE
       |      WHEN t = 63 THEN CAST(bit AS BIGINT) * (-9223372036854775807 - 1)
       |      ELSE CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << t) END) AS BIGINT)
       |    AS phash
       |  FROM bits GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, phash, b, (phash >> (16 * b)) & 65535 AS v
       |  FROM hash, (SELECT unnest(generate_series(0, 3)) AS b) bb),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS media_id_a, c.doc_id AS media_id_b,
       |    a.phash AS pa, c.phash AS pb
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.v = c.v
       |    AND a.doc_id < c.doc_id)
       |SELECT media_id_a, media_id_b,
       |  CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming_dist,
       |  bit_count(xor(pa, pb)) <= $PhashHammingMax AS is_near
       |FROM cand
       |ORDER BY media_id_a, media_id_b""".stripMargin
  }

  /** Twin of Multimodal.audioDupPairs. The WAV near-dup corpus is a pure
    * function of the content id (the shared phashContentId planting: id,
    * or id−4 with sample 0 lifted +1 capped 255): decoded PCM level k is
    * LCG step k+1 of cid, so the 64-window energy sums, the sign bits, the
    * 64-bit fingerprint pack, the 4×16-bit bands and the Hamming verify
    * all replay in integer SQL — the [[mediaPhashPairs]] chain with the
    * tile means replaced by time-window energy sums. */
  val mediaAudioDups: String = {
    import graft.ext.Multimodal.{AudioFpWindows, AudioFpWindowSamples, PhashHammingMax}
    val A = "6364136223846793005"
    val C = "1442695040888963407"
    val M64 = "18446744073709551616" // 2^64
    val TOP = "72057594037927936" // 2^56
    val n = AudioFpWindows * AudioFpWindowSamples
    s"""WITH RECURSIVE ids AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 7 THEN doc_id - 4 ELSE doc_id END AS cid
       |  FROM documents),
       |gen AS (
       |  SELECT doc_id, 0 AS i,
       |    ((CAST(cid AS HUGEINT) * $A + $C) % $M64) AS s
       |  FROM ids
       |  UNION ALL
       |  SELECT doc_id, i + 1, ((s * $A + $C) % $M64) FROM gen WHERE i < $n),
       |lv AS (
       |  SELECT g.doc_id, g.i - 1 AS k,
       |    CASE WHEN g.doc_id % 10 = 7 AND g.i = 1
       |         THEN LEAST(255, s // $TOP + 1) ELSE s // $TOP END AS l
       |  FROM gen g WHERE g.i >= 1),
       |ws AS (SELECT doc_id, (k * $AudioFpWindows) // $n AS w,
       |    CAST(SUM(l) AS BIGINT) AS wsum
       |  FROM lv GROUP BY doc_id, w),
       |tot AS (SELECT doc_id, CAST(SUM(l) AS BIGINT) AS total FROM lv GROUP BY doc_id),
       |bits AS (
       |  SELECT ws.doc_id, CAST(w AS INT) AS t,
       |    CASE WHEN $AudioFpWindows * wsum > total THEN 1 ELSE 0 END AS bit
       |  FROM ws JOIN tot USING (doc_id)),
       |hash AS (
       |  SELECT doc_id, CAST(SUM(CASE
       |      WHEN t = 63 THEN CAST(bit AS BIGINT) * (-9223372036854775807 - 1)
       |      ELSE CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << t) END) AS BIGINT)
       |    AS phash
       |  FROM bits GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, phash, b, (phash >> (16 * b)) & 65535 AS v
       |  FROM hash, (SELECT unnest(generate_series(0, 3)) AS b) bb),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS media_id_a, c.doc_id AS media_id_b,
       |    a.phash AS pa, c.phash AS pb
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.v = c.v
       |    AND a.doc_id < c.doc_id)
       |SELECT media_id_a, media_id_b,
       |  CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming_dist,
       |  bit_count(xor(pa, pb)) <= $PhashHammingMax AS is_near
       |FROM cand
       |ORDER BY media_id_a, media_id_b""".stripMargin
  }

  /** Twin of Multimodal.videoDupPairs — the [[mediaAudioDups]] chain at
    * video geometry: 128 solid-gray frames per clip, 64 two-frame temporal
    * windows. Per-frame pixel sums are level·w·h, so the constant raster
    * factor cancels out of the cross-multiplied threshold and the SQL
    * compares pure LCG levels — exactly what the real chunk-walk decode
    * computes up to that shared factor. */
  val mediaVideoDups: String = {
    import graft.ext.Multimodal.{VideoFpWindows, VideoFpWindowFrames, PhashHammingMax}
    val A = "6364136223846793005"
    val C = "1442695040888963407"
    val M64 = "18446744073709551616" // 2^64
    val TOP = "72057594037927936" // 2^56
    val n = VideoFpWindows * VideoFpWindowFrames
    s"""WITH RECURSIVE ids AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 7 THEN doc_id - 4 ELSE doc_id END AS cid
       |  FROM documents),
       |gen AS (
       |  SELECT doc_id, 0 AS i,
       |    ((CAST(cid AS HUGEINT) * $A + $C) % $M64) AS s
       |  FROM ids
       |  UNION ALL
       |  SELECT doc_id, i + 1, ((s * $A + $C) % $M64) FROM gen WHERE i < $n),
       |lv AS (
       |  SELECT g.doc_id, g.i - 1 AS k,
       |    CASE WHEN g.doc_id % 10 = 7 AND g.i = 1
       |         THEN LEAST(255, s // $TOP + 1) ELSE s // $TOP END AS l
       |  FROM gen g WHERE g.i >= 1),
       |ws AS (SELECT doc_id, (k * $VideoFpWindows) // $n AS w,
       |    CAST(SUM(l) AS BIGINT) AS wsum
       |  FROM lv GROUP BY doc_id, w),
       |tot AS (SELECT doc_id, CAST(SUM(l) AS BIGINT) AS total FROM lv GROUP BY doc_id),
       |bits AS (
       |  SELECT ws.doc_id, CAST(w AS INT) AS t,
       |    CASE WHEN $VideoFpWindows * wsum > total THEN 1 ELSE 0 END AS bit
       |  FROM ws JOIN tot USING (doc_id)),
       |hash AS (
       |  SELECT doc_id, CAST(SUM(CASE
       |      WHEN t = 63 THEN CAST(bit AS BIGINT) * (-9223372036854775807 - 1)
       |      ELSE CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << t) END) AS BIGINT)
       |    AS phash
       |  FROM bits GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, phash, b, (phash >> (16 * b)) & 65535 AS v
       |  FROM hash, (SELECT unnest(generate_series(0, 3)) AS b) bb),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS media_id_a, c.doc_id AS media_id_b,
       |    a.phash AS pa, c.phash AS pb
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.v = c.v
       |    AND a.doc_id < c.doc_id)
       |SELECT media_id_a, media_id_b,
       |  CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming_dist,
       |  bit_count(xor(pa, pb)) <= $PhashHammingMax AS is_near
       |FROM cand
       |ORDER BY media_id_a, media_id_b""".stripMargin
  }

  /** Twin of Multimodal.crossModalDups — each modality arm nested verbatim
    * (text MinHash-LSH pairs, image/audio/video banded fingerprint pairs),
    * reject set = the keep-lowest `b` side, report = doc-grain membership
    * booleans + the blocking OR. */
  lazy val mediaCrossModalDups: String =
    s"""WITH tp AS (SELECT doc_b FROM ($dedupMinhashLsh)),
       |ip AS (SELECT media_id_b FROM ($mediaPhashPairs) WHERE is_near),
       |ap AS (SELECT media_id_b FROM ($mediaAudioDups) WHERE is_near),
       |vp AS (SELECT media_id_b FROM ($mediaVideoDups) WHERE is_near)
       |SELECT doc_id,
       |  doc_id IN (SELECT doc_b FROM tp) AS text_dup,
       |  doc_id IN (SELECT media_id_b FROM ip) AS image_dup,
       |  doc_id IN (SELECT media_id_b FROM ap) AS audio_dup,
       |  doc_id IN (SELECT media_id_b FROM vp) AS video_dup,
       |  doc_id IN (SELECT doc_b FROM tp)
       |    OR doc_id IN (SELECT media_id_b FROM ip)
       |    OR doc_id IN (SELECT media_id_b FROM ap)
       |    OR doc_id IN (SELECT media_id_b FROM vp) AS any_dup
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Image rows are REAL PNGs of solid gray `(doc_id·A + C) >>> 56` (the
    * LCG's step-0 top byte — `gen` at i = 0): the decoded per-pixel mean is
    * exactly that level. Audio rows are REAL WAV PCM16 whose decoded 8-bit
    * levels are LCG steps 1..64 ([[graft.ext.Multimodal.WavCodec.Samples]]
    * decoded frames per file). Video rows are REAL uncompressed AVIs whose
    * decoded frame k is a solid gray at LCG step k+1 — so the per-pixel
    * luma mean over the whole clip is the mean of steps 1..frames, and
    * n_pixels is the decoded w·h·frames on the video dim grid. */
  val mediaKindSummary: String = {
    val A = "6364136223846793005"
    val C = "1442695040888963407"
    val M64 = "18446744073709551616" // 2^64
    val TOP = "72057594037927936" // 2^56
    val wavFrames = graft.ext.Multimodal.WavCodec.Samples
    s"""WITH RECURSIVE media AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    CASE WHEN doc_id % 3 = 2 THEN 48 + (doc_id % 8) * 16
       |         ELSE 64 + (doc_id % 8) * 32 END AS w,
       |    CASE WHEN doc_id % 3 = 2 THEN 36 + (doc_id % 5) * 16
       |         ELSE 64 + (doc_id % 5) * 32 END AS h,
       |    CASE WHEN doc_id % 3 = 2 THEN 8 + (doc_id % 4) ELSE 1 END AS frames
       |  FROM documents),
       |gen AS (
       |  SELECT doc_id, 0 AS i,
       |    ((CAST(doc_id AS HUGEINT) * $A + $C) % $M64) AS s
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, i + 1, ((s * $A + $C) % $M64) FROM gen WHERE i < 64),
       |payload_luma AS (
       |  SELECT doc_id, CAST(SUM(s // $TOP) AS DOUBLE) / 64 AS mean_luma
       |  FROM gen WHERE i >= 1 GROUP BY doc_id),
       |video_luma AS (
       |  SELECT g.doc_id,
       |    CAST(SUM(g.s // $TOP) AS DOUBLE) / m.frames AS mean_luma
       |  FROM gen g JOIN media m USING (doc_id)
       |  WHERE g.i >= 1 AND g.i <= m.frames
       |  GROUP BY g.doc_id, m.frames),
       |gray AS (
       |  SELECT doc_id, CAST(s // $TOP AS DOUBLE) AS mean_luma FROM gen WHERE i = 0),
       |luma AS (
       |  SELECT p.doc_id,
       |    CASE WHEN p.doc_id % 3 = 0 THEN g.mean_luma
       |         WHEN p.doc_id % 3 = 2 THEN v.mean_luma
       |         ELSE p.mean_luma END AS mean_luma
       |  FROM payload_luma p
       |  JOIN gray g USING (doc_id)
       |  LEFT JOIN video_luma v USING (doc_id))
       |SELECT m.kind,
       |  COUNT(*) AS n_media,
       |  CAST(SUM(CASE WHEN m.kind = 'audio' THEN $wavFrames
       |           ELSE CAST(m.w AS BIGINT) * m.h * m.frames END) AS BIGINT)
       |    AS total_pixels,
       |  ${R(s"${DS("l.mean_luma")} / COUNT(*)", 4)} AS avg_luma
       |FROM media m JOIN luma l USING (doc_id)
       |GROUP BY m.kind
       |ORDER BY m.kind""".stripMargin
  }

  // ---------------------------------------- Gopher gates / repetition twins

  /** The Gopher metric CTE `m` + the conjunction predicate — twins of
    * `Text.gopherGate`, shared by [[textGopherRules]] and [[textNbQuality]]
    * so the gate and the weak labeler replay one formula. */
  private val gopherMetricsCte: String = {
    val nTok = s"CAST(len($toks) AS BIGINT)"
    s"""m AS (
       |  SELECT doc_id, lang,
       |    $nTok AS n_tokens,
       |    CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / $nTok AS mean_len,
       |    CAST(${hits(Stopwords)} AS INTEGER) AS stopword_hits,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |      / length(text) AS symbol_ratio,
       |    CAST(len(list_filter($toks, w -> regexp_matches(w, '^[a-z]+$$'))) AS DOUBLE)
       |      / $nTok AS alpha_ratio
       |  FROM documents)""".stripMargin
  }

  private val gopherPassesAll: String = {
    import graft.ext.Text.{MinWords, MaxWords, MinMeanWordLen, MaxMeanWordLen,
      MinStopwordHits, MaxSymbolRatio, MinAlphaRatio}
    s"""((n_tokens >= $MinWords AND n_tokens <= $MaxWords)
       |    AND (mean_len >= $MinMeanWordLen AND mean_len <= $MaxMeanWordLen)
       |    AND stopword_hits >= $MinStopwordHits
       |    AND symbol_ratio <= $MaxSymbolRatio
       |    AND alpha_ratio >= $MinAlphaRatio)""".stripMargin
  }

  /** Twin of Text.gopherRules: gates evaluate on RAW metrics (inner CTE),
    * output columns are r4-rounded (outer select) — same order as Spark. */
  val textGopherRules: String = {
    import graft.ext.Text.{MinWords, MaxWords, MinMeanWordLen, MaxMeanWordLen,
      MinStopwordHits, MaxSymbolRatio, MinAlphaRatio}
    s"""WITH $gopherMetricsCte
       |SELECT doc_id, lang, n_tokens,
       |  ${R("mean_len", 4)} AS mean_word_len,
       |  stopword_hits,
       |  ${R("symbol_ratio", 4)} AS symbol_ratio,
       |  ${R("alpha_ratio", 4)} AS alpha_ratio,
       |  (n_tokens >= $MinWords AND n_tokens <= $MaxWords) AS pass_word_count,
       |  (mean_len >= $MinMeanWordLen AND mean_len <= $MaxMeanWordLen) AS pass_word_length,
       |  stopword_hits >= $MinStopwordHits AS pass_stopwords,
       |  symbol_ratio <= $MaxSymbolRatio AS pass_symbol_ratio,
       |  alpha_ratio >= $MinAlphaRatio AS pass_alpha_ratio,
       |  $gopherPassesAll AS passes_all
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  /** The NB-classifier CTE chain shared by [[textNbQuality]] and
    * [[corpusQualitySample]] — twins of `Text.nbModelFrames` +
    * `Text.nbMicroWith`: Gopher weak labels ([[gopherMetricsCte]]),
    * per-class Laplace token model over the shared capped vocabulary,
    * micro-nat integer scoring. Final CTE is `perdoc`; the per-doc
    * micro-nat log-odds is [[nbLoMicro]] (over aliases p = perdoc,
    * u = unk). */
  private def nbCtes: String = {
    import graft.ext.Text.LmVocabCap
    def mn(num: String, den: String): String =
      s"CAST(FLOOR(-ln(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    s"""$gopherMetricsCte,
       |lab AS (SELECT doc_id, $gopherPassesAll AS weak_good FROM m),
       |nz AS (SELECT doc_id, weak_good, token FROM (
       |    SELECT d.doc_id, l.weak_good, unnest($toks) AS token
       |    FROM documents d JOIN lab l ON l.doc_id = d.doc_id)
       |  WHERE token <> ''),
       |counts AS (SELECT token,
       |    sum(CASE WHEN weak_good THEN 1 ELSE 0 END) AS cg,
       |    sum(CASE WHEN weak_good THEN 0 ELSE 1 END) AS cb
       |  FROM nz GROUP BY token),
       |vocab AS (SELECT token, cg, cb FROM counts
       |  ORDER BY cg + cb DESC, token LIMIT $LmVocabCap),
       |stats AS (SELECT
       |    (SELECT sum(cg) FROM counts) AS tg,
       |    (SELECT sum(cb) FROM counts) AS tb,
       |    LEAST((SELECT count(*) FROM counts), $LmVocabCap) + 1 AS veff,
       |    (SELECT sum(cg) FROM counts) - (SELECT coalesce(sum(cg), 0) FROM vocab) AS coovg,
       |    (SELECT sum(cb) FROM counts) - (SELECT coalesce(sum(cb), 0) FROM vocab) AS coovb,
       |    (SELECT sum(CASE WHEN weak_good THEN 1 ELSE 0 END) FROM lab) AS ng,
       |    (SELECT count(*) FROM lab) AS nd),
       |model AS (SELECT token,
       |    ${mn("cg + 1", "tg + veff")} AS mg,
       |    ${mn("cb + 1", "tb + veff")} AS mb
       |  FROM vocab, stats),
       |unk AS (SELECT
       |    ${mn("coovg + 1", "tg + veff")} AS umg,
       |    ${mn("coovb + 1", "tb + veff")} AS umb,
       |    ${mn("ng + 1", "nd + 2")} AS pmg,
       |    ${mn("nd - ng + 1", "nd + 2")} AS pmb
       |  FROM stats),
       |perdoc AS (
       |  SELECT nz.doc_id, count(*) AS n_scored_tokens,
       |    sum(coalesce(model.mg, unk.umg)) AS sg,
       |    sum(coalesce(model.mb, unk.umb)) AS sb
       |  FROM nz LEFT JOIN model ON nz.token = model.token, unk
       |  GROUP BY nz.doc_id)""".stripMargin
  }

  /** Exact micro-nat log-odds over [[nbCtes]]' p/u aliases. */
  private val nbLoMicro: String =
    "((coalesce(p.sb, 0) + u.pmb) - (coalesce(p.sg, 0) + u.pmg))"

  /** Twin of Text.nbQuality. */
  val textNbQuality: String =
    s"""WITH $nbCtes
       |SELECT d.doc_id, d.lang, d.source, l.weak_good,
       |  coalesce(p.n_scored_tokens, 0) AS n_scored_tokens,
       |  ${R(s"CAST($nbLoMicro AS DOUBLE) / 1e6", 4)} AS log_odds,
       |  $nbLoMicro > 0 AS predicted_good,
       |  ($nbLoMicro > 0) = l.weak_good AS agrees
       |FROM documents d
       |JOIN lab l ON l.doc_id = d.doc_id
       |LEFT JOIN perdoc p ON p.doc_id = d.doc_id, unk u
       |ORDER BY d.doc_id""".stripMargin

  /** Twin of Text.nbCalibration — per-doc micro-nat log-odds, global
    * NTILE deciles on (lo DESC, doc_id) (DuckDB NTILE and the distributed
    * globalNtile share the first-N%n-buckets-get-⌈N/n⌉ rule), ppm rates
    * via `//`. */
  val textNbCalibration: String = {
    import graft.ext.Text.CalibrationDeciles
    s"""WITH $nbCtes,
       |los AS (SELECT d.doc_id, $nbLoMicro AS lo, l.weak_good
       |  FROM documents d JOIN lab l ON l.doc_id = d.doc_id
       |  LEFT JOIN perdoc p ON p.doc_id = d.doc_id, unk u),
       |dd AS (SELECT *, CAST(ntile($CalibrationDeciles)
       |    OVER (ORDER BY lo DESC, doc_id) AS INTEGER) AS decile FROM los)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN weak_good THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_gate_pass,
       |  CAST((sum(CASE WHEN weak_good THEN 1 ELSE 0 END) * 1000000)
       |    // count(*) AS BIGINT) AS gate_pass_ppm,
       |  CAST(sum(CASE WHEN lo > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pred_good,
       |  CAST(max(lo) AS BIGINT) AS lo_micro_max,
       |  CAST(min(lo) AS BIGINT) AS lo_micro_min
       |FROM dd GROUP BY decile
       |ORDER BY decile""".stripMargin
  }

  /** Twin of Corpus.qualitySample — the [[nbCtes]] scores feeding the
    * clamped linear keep-probability ramp and the integer mixer verdict.
    * The ramp quotient is the pure-BIGINT pmod floor-division device
    * ([[graft.engine.Num.fdiv]] twin): lo_micro can be negative, and
    * DuckDB `//`/Spark `div` truncate toward zero, so floor = subtract the
    * positive remainder first — zero float surface either side. */
  val corpusQualitySample: String = {
    import graft.ext.Corpus.QsRampMicroNats
    val rmp = QsRampMicroNats / 500L
    val lo = s"($nbLoMicro)"
    val pm = s"""LEAST(1000, GREATEST(0,
      |    500 + ($lo - (($lo % $rmp + $rmp) % $rmp)) // $rmp))""".stripMargin
    s"""WITH $nbCtes
       |SELECT d.doc_id, d.lang, d.source,
       |  ${R(s"CAST($nbLoMicro AS DOUBLE) / 1e6", 4)} AS log_odds,
       |  CAST($pm AS BIGINT) AS keep_millis,
       |  ${mixSql("d.doc_id")} % 1000 < $pm AS kept
       |FROM documents d
       |LEFT JOIN perdoc p ON p.doc_id = d.doc_id, unk u
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Twin of Text.repetition: per-doc n-gram repetition ratios; the
    * is_repetitive gate compares the ROUNDED fractions like Spark does. */
  val textRepetition: String = {
    import graft.ext.Text.{MaxTopBigramFraction, MaxDupTrigramFraction}
    def gramAgg(n: Int, top: String, dup: String, cte: String): String =
      s"""$cte AS (
         |  SELECT doc_id,
         |    ${R("CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)", 4)} AS $top,
         |    ${R("CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)", 4)} AS $dup
         |  FROM (
         |    SELECT doc_id, g, count(*) AS c FROM (
         |      SELECT doc_id, unnest(list_transform(
         |        generate_series(0, len(t) - $n),
         |        i -> array_to_string(t[i+1:i+$n], ' '))) AS g
         |      FROM (SELECT doc_id, $toks AS t FROM documents)
         |      WHERE len(t) >= $n)
         |    GROUP BY doc_id, g)
         |  GROUP BY doc_id)""".stripMargin
    s"""WITH ${gramAgg(2, "top_bigram_fraction", "dup_bigram_fraction", "r2")},
       |${gramAgg(3, "top_trigram_fraction", "dup_trigram_fraction", "r3")}
       |SELECT d.doc_id, d.lang, d.n_chars,
       |  r2.top_bigram_fraction, r2.dup_bigram_fraction,
       |  r3.top_trigram_fraction, r3.dup_trigram_fraction,
       |  (COALESCE(r2.top_bigram_fraction > $MaxTopBigramFraction, false)
       |    OR COALESCE(r3.dup_trigram_fraction > $MaxDupTrigramFraction, false))
       |    AS is_repetitive
       |FROM documents d
       |LEFT JOIN r2 ON d.doc_id = r2.doc_id
       |LEFT JOIN r3 ON d.doc_id = r3.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Twin of Dedup.clusters: connected components of the LSH pair graph by
    * recursive transitive closure (min reachable label per node). */
  lazy val dedupClusters: String =
    s"""WITH RECURSIVE pairs AS ($dedupMinhashLsh),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |      UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.node),
       |cc AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cc
       |ORDER BY doc_id""".stripMargin

  /** Twin of Scd.userEventTypeHistory: gaps-and-islands SCD2 over the
    * events change log (lag → change flag → running-sum version → island
    * agg → lead closes intervals). */
  val scd2UserEventType: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN lag(event_type) OVER w IS NULL
       |              OR lag(event_type) OVER w <> event_type
       |         THEN 1 ELSE 0 END AS chg
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |numbered AS (
       |  SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
       |  FROM flagged),
       |islands AS (
       |  SELECT user_id, version, event_type,
       |    min(ts) AS ef, count(*) AS n_events
       |  FROM numbered GROUP BY user_id, version, event_type),
       |closed AS (
       |  SELECT *, lead(ef) OVER (PARTITION BY user_id ORDER BY version) AS et
       |  FROM islands)
       |SELECT user_id, version, event_type,
       |  make_timestamp(epoch_us(ef)) AS effective_from,
       |  make_timestamp(epoch_us(et)) AS effective_to,
       |  n_events, et IS NULL AS is_current
       |FROM closed
       |ORDER BY user_id, version""".stripMargin

  /** Twin of Cdf.customerOrderChanges: full-outer diff of the two
    * retention-window snapshots (same constants via graft.engine.Cdf). */
  val cdfCustomerOrders: String = {
    import graft.engine.Cdf.{CdfOldEnd, CdfNewStart}
    s"""WITH old AS (
       |  SELECT o_custkey AS customer_key, count(*) AS order_count,
       |    ${R(DS("o_totalprice"), 2)} AS total_spent
       |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '$CdfOldEnd'
       |  GROUP BY 1),
       |neu AS (
       |  SELECT o_custkey AS customer_key, count(*) AS order_count,
       |    ${R(DS("o_totalprice"), 2)} AS total_spent
       |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '$CdfNewStart'
       |  GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(o.customer_key, n.customer_key) AS customer_key,
       |    o.order_count AS old_order_count, o.total_spent AS old_total_spent,
       |    n.order_count AS new_order_count, n.total_spent AS new_total_spent,
       |    CASE WHEN o.customer_key IS NULL THEN 'insert'
       |         WHEN n.customer_key IS NULL THEN 'delete'
       |         WHEN o.order_count = n.order_count
       |              AND o.total_spent = n.total_spent THEN 'none'
       |         ELSE 'update' END AS change_type
       |  FROM old o FULL OUTER JOIN neu n ON o.customer_key = n.customer_key)
       |SELECT * FROM j WHERE change_type <> 'none'
       |ORDER BY customer_key""".stripMargin
  }

  /** Twin of Incremental.monthlyRevenueFromDeltas: the oracle aggregates
    * from scratch — the hash match proves the delta-fold path is exact. */
  val incrMonthlyRevenue: String =
    s"""SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
       |  CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
       |  count(*) AS n_orders,
       |  ${R(DS("o_totalprice"), 2)} AS total_revenue
       |FROM orders
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Twin of Text.lmScore — capped-vocab Laplace unigram LM, micro-nat
    * integer surprise terms (exact BIGINT per-doc sums, order-free). */
  val textLmScore: String = {
    import graft.ext.Text.{LmVocabCap, LmCeOutlier}
    val ce = "CAST(p.s AS DOUBLE) / (CAST(p.n_scored_tokens AS DOUBLE) * 1e6)"
    s"""WITH nz AS (
       |  SELECT doc_id, token
       |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |  WHERE token <> ''),
       |counts AS (SELECT token, count(*) AS c FROM nz GROUP BY token),
       |vocab AS (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT $LmVocabCap),
       |stats AS (SELECT
       |    (SELECT sum(c) FROM counts) AS t,
       |    LEAST((SELECT count(*) FROM counts), $LmVocabCap) + 1 AS veff,
       |    (SELECT sum(c) FROM counts) - (SELECT coalesce(sum(c), 0) FROM vocab) AS coov),
       |model AS (SELECT token,
       |    CAST(FLOOR(-ln(CAST(c + 1 AS DOUBLE) / CAST(t + veff AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS mn
       |  FROM vocab, stats),
       |unk AS (SELECT
       |    CAST(FLOOR(-ln(CAST(coov + 1 AS DOUBLE) / CAST(t + veff AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS unk_mn
       |  FROM stats),
       |perdoc AS (
       |  SELECT nz.doc_id, count(*) AS n_scored_tokens,
       |    sum(coalesce(model.mn, unk.unk_mn)) AS s
       |  FROM nz LEFT JOIN model ON nz.token = model.token, unk
       |  GROUP BY nz.doc_id)
       |SELECT d.doc_id, d.lang, d.source,
       |  coalesce(p.n_scored_tokens, 0) AS n_scored_tokens,
       |  ${R(ce, 4)} AS cross_entropy,
       |  ${R(s"exp($ce)", 2)} AS perplexity,
       |  coalesce(${R(ce, 4)} > $LmCeOutlier, false) AS is_lm_outlier
       |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Twin of Text.sourceDivergence — shared capped-vocab smoothing, signed
    * nano-nat integer terms (exact BIGINT sums). */
  val textSourceDivergence: String = {
    import graft.ext.Text.LmVocabCap
    val ps = "CAST(cs + 1 AS DOUBLE) / CAST(ts + veff AS DOUBLE)"
    val p = "CAST(c + 1 AS DOUBLE) / CAST(t + veff AS DOUBLE)"
    s"""WITH nz AS (
       |  SELECT source, token
       |  FROM (SELECT source, unnest($toks) AS token FROM documents)
       |  WHERE token <> ''),
       |counts AS (SELECT token, count(*) AS c FROM nz GROUP BY token),
       |vocab AS (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT $LmVocabCap),
       |stats AS (SELECT
       |    (SELECT sum(c) FROM counts) AS t,
       |    LEAST((SELECT count(*) FROM counts), $LmVocabCap) + 1 AS veff,
       |    (SELECT sum(c) FROM counts) - (SELECT coalesce(sum(c), 0) FROM vocab) AS coov),
       |srcdocs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |stok AS (SELECT source, count(*) AS ts FROM nz GROUP BY source),
       |cs AS (
       |  SELECT source, token, count(*) AS cs FROM nz
       |  WHERE token IN (SELECT token FROM vocab)
       |  GROUP BY source, token),
       |grid AS (
       |  SELECT s.source, s.ts, v.c, coalesce(cs.cs, 0) AS cs
       |  FROM stok s CROSS JOIN vocab v
       |  LEFT JOIN cs ON cs.source = s.source AND cs.token = v.token),
       |soov AS (
       |  SELECT s.source, s.ts, st.coov AS c,
       |    s.ts - (SELECT coalesce(sum(cs), 0) FROM cs WHERE cs.source = s.source) AS cs
       |  FROM stok s, stats st),
       |terms AS (
       |  SELECT source, ts, c, cs FROM grid
       |  UNION ALL SELECT source, ts, c, cs FROM soov),
       |scored AS (
       |  SELECT source, ts,
       |    CAST(FLOOR(($ps) * ln(($ps) / ($p)) * 1e9 + 0.5) AS BIGINT) AS term
       |  FROM terms, stats),
       |agg AS (SELECT source, any_value(ts) AS ts, sum(term) AS s
       |  FROM scored GROUP BY source)
       |SELECT a.source, d.n_docs, a.ts AS n_tokens,
       |  ${R("CAST(o.cs AS DOUBLE) / CAST(a.ts AS DOUBLE)", 4)} AS oov_rate,
       |  ${R("CAST(a.s AS DOUBLE) / 1e9", 6)} AS kl_nats
       |FROM agg a
       |JOIN srcdocs d ON d.source = a.source
       |JOIN soov o ON o.source = a.source
       |ORDER BY a.source""".stripMargin
  }

  /** Twin of Corpus.rejectLedger — the preprocess gates as a first-match-wins
    * CASE, every doc accounted for. */
  lazy val corpusRejectLedger: String = {
    import graft.ext.Corpus.QualityThreshold
    s"""WITH stats AS ($textStats),
       |lm AS ($textLmScore),
       |pairs AS ($dedupMinhashLsh),
       |dups AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
       |split AS (
       |  SELECT doc_id,
       |    CASE WHEN ${mixSql("doc_id")} % 100 < ${graft.ext.Sampling.TrainPct} THEN 'train'
       |         WHEN ${mixSql("doc_id")} % 100 < ${graft.ext.Sampling.TrainPct + graft.ext.Sampling.ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |verdicts AS (
       |  SELECT s.doc_id, s.lang, s.quality_score, sp.split,
       |    CASE WHEN s.lang <> 'en' THEN 'lang'
       |         WHEN s.quality_score < $QualityThreshold THEN 'quality'
       |         WHEN l.is_lm_outlier THEN 'lm_outlier'
       |         WHEN d.doc_id IS NOT NULL THEN 'near_dup'
       |         ELSE 'kept' END AS verdict
       |  FROM stats s
       |  JOIN lm l ON l.doc_id = s.doc_id
       |  LEFT JOIN dups d ON d.doc_id = s.doc_id
       |  JOIN split sp ON sp.doc_id = s.doc_id)
       |SELECT doc_id, lang, quality_score, verdict,
       |  verdict = 'kept' AS kept,
       |  CASE WHEN verdict = 'kept' THEN split END AS split
       |FROM verdicts
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Sampling.clusterSafeSplit — the CC recursion keyed to splits. */
  lazy val samplingClusterSplit: String = {
    import graft.ext.Sampling.{TrainPct, ValPct}
    s"""WITH RECURSIVE pairs AS ($dedupMinhashLsh),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |      UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.node),
       |cc AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN ${mixSql("cluster_id")} % 100 < $TrainPct THEN 'train'
       |       WHEN ${mixSql("cluster_id")} % 100 < ${TrainPct + ValPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM cc
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Similarity.embeddingDrift — the fixture mixer split, the
    * [[kmeansCtes]] quantizer trained on the OLD half (the chain reads CTE
    * `n`, which here IS the old half), one shared assignment pass over the
    * full corpus, micro-cosine BIGINT cohesion sums, full-outer cell
    * compare. */
  lazy val simEmbeddingDrift: String = {
    import graft.ext.Similarity.{KmeansIters, DriftSharePct, DriftCosDrop}
    val listNorm =
      "sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b))"
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |nfull AS (SELECT vec_id, v, $listNorm AS norm FROM e),
       |n AS (SELECT * FROM nfull WHERE ${mixSql("vec_id")} % 100 < 50),
       |$kmeansCtes,
       |scored AS (
       |  SELECT x.vec_id, c.cl,
       |    (${dotSql("x.v", "c.cv")}) / (x.norm * c.cnorm) AS cos,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY (${dotSql("x.v", "c.cv")}) / (x.norm * c.cnorm) DESC, c.cl) AS crank
       |  FROM nfull x CROSS JOIN c$KmeansIters c),
       |asg AS (SELECT vec_id, cl,
       |    CAST(FLOOR(cos * 1e6 + 0.5) AS BIGINT) AS cmu
       |  FROM scored WHERE crank = 1),
       |ao AS (SELECT cl, count(*) AS n_old, sum(cmu) AS s_old FROM asg
       |  WHERE ${mixSql("vec_id")} % 100 < 50 GROUP BY cl),
       |an AS (SELECT cl, count(*) AS n_new, sum(cmu) AS s_new FROM asg
       |  WHERE ${mixSql("vec_id")} % 100 >= 50 GROUP BY cl),
       |t AS (SELECT (SELECT count(*) FROM n) AS ta,
       |  (SELECT count(*) FROM nfull WHERE ${mixSql("vec_id")} % 100 >= 50) AS tb),
       |mid AS (
       |  SELECT coalesce(ao.cl, an.cl) AS cl,
       |    coalesce(ao.n_old, 0) AS n_old,
       |    coalesce(an.n_new, 0) AS n_new,
       |    ${R("100.0 * CAST(coalesce(ao.n_old, 0) AS DOUBLE) / CAST(t.ta AS DOUBLE)", 4)} AS share_old_pct,
       |    ${R("100.0 * CAST(coalesce(an.n_new, 0) AS DOUBLE) / CAST(t.tb AS DOUBLE)", 4)} AS share_new_pct,
       |    ${R("CAST(ao.s_old AS DOUBLE) / (CAST(ao.n_old AS DOUBLE) * 1e6)", 4)} AS mean_cos_old,
       |    ${R("CAST(an.s_new AS DOUBLE) / (CAST(an.n_new AS DOUBLE) * 1e6)", 4)} AS mean_cos_new
       |  FROM ao FULL JOIN an ON an.cl = ao.cl, t)
       |SELECT cl, n_old, n_new, share_old_pct, share_new_pct,
       |  mean_cos_old, mean_cos_new,
       |  (ABS(share_new_pct - share_old_pct) > $DriftSharePct
       |    OR coalesce(mean_cos_old - mean_cos_new > $DriftCosDrop, false)) AS drifted
       |FROM mid
       |ORDER BY cl""".stripMargin
  }

  /** Twin of Sampling.clusterBalancedSample — the [[kmeansCtes]] label-free
    * quantizer's nearest-cell assignment, then per-cluster mixed-hash
    * row_number against the quota. */
  lazy val samplingClusterBalanced: String = {
    import graft.ext.Sampling.ClusterQuota
    import graft.ext.Similarity.KmeansIters
    s"""WITH $normCte,
       |$kmeansCtes,
       |scored AS (
       |  SELECT x.vec_id, c.cl,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY (${dotSql("x.v", "c.cv")}) / (x.norm * c.cnorm) DESC, c.cl) AS crank
       |  FROM n x CROSS JOIN c$KmeansIters c),
       |asg AS (SELECT vec_id, cl AS cluster FROM scored WHERE crank = 1),
       |ranked AS (
       |  SELECT vec_id, cluster,
       |    count(*) OVER (PARTITION BY cluster) AS cluster_size,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY ${mixSql("vec_id")}, vec_id) AS sample_rank
       |  FROM asg)
       |SELECT vec_id, cluster, cluster_size, sample_rank,
       |  sample_rank <= $ClusterQuota AS kept
       |FROM ranked
       |ORDER BY vec_id""".stripMargin
  }

  /** Twin of Text.blocklistFilter — same token-set membership count as the
    * stopword twin, over the blocklist constant. */
  val textBlocklistFilter: String = {
    import graft.ext.Text.Blocklist
    s"""SELECT doc_id,
       |  CAST(${hits(Blocklist)} AS BIGINT) AS n_blocklist_hits,
       |  ${hits(Blocklist)} > 0 AS blocked
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Text.dsirSelect — hashed-bigram feature bags ([[rollhash]] mod
    * buckets, same 31-bit device as the fingerprint), gate-passing target
    * subset ([[gopherMetricsCte]]), per-feature micro-nat importance
    * weights with Laplace smoothing, exact BIGINT per-doc sums, global
    * rank + integer quota. */
  val textDsirSelect: String = {
    import graft.ext.Text.{DsirBuckets, DsirKeepDen}
    def mn(p: String) = s"CAST(FLOOR(-ln($p) * 1e6 + 0.5) AS BIGINT)"
    s"""WITH $gopherMetricsCte,
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(0, len(t) - 2),
       |    i -> array_to_string(t[i+1:i+2], ' '))) AS bigram
       |  FROM (SELECT doc_id, $toks AS t FROM documents)
       |  WHERE len(t) >= 2),
       |ft AS (SELECT doc_id, ${rollhash("bigram")} % $DsirBuckets AS f FROM bg),
       |tgt AS (SELECT doc_id FROM m WHERE $gopherPassesAll),
       |cr AS (SELECT f, count(*) AS cr FROM ft GROUP BY f),
       |ct AS (SELECT ft.f, count(*) AS ct FROM ft JOIN tgt USING (doc_id)
       |  GROUP BY ft.f),
       |tot AS (SELECT (SELECT sum(cr) FROM cr) AS tr,
       |  (SELECT coalesce(sum(ct), 0) FROM ct) AS tt),
       |w AS (
       |  SELECT cr.f,
       |    ${mn(s"CAST(cr.cr + 1 AS DOUBLE) / CAST(tot.tr + $DsirBuckets AS DOUBLE)")}
       |    - ${mn(s"CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + $DsirBuckets AS DOUBLE)")}
       |      AS m
       |  FROM cr LEFT JOIN ct ON ct.f = cr.f, tot),
       |perdoc AS (
       |  SELECT ft.doc_id, count(*) AS n_features,
       |    CAST(sum(w.m) AS BIGINT) AS lw
       |  FROM ft JOIN w ON w.f = ft.f GROUP BY ft.doc_id),
       |scored AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |    CAST(coalesce(p.n_features, 0) AS BIGINT) AS n_features,
       |    CAST(coalesce(p.lw, 0) AS BIGINT) AS lw
       |  FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY lw DESC, doc_id) AS rn,
       |    count(*) OVER () AS tot FROM scored)
       |SELECT doc_id, lang, source, n_features,
       |  ${R("CAST(lw AS DOUBLE) / 1e6", 4)} AS log_weight,
       |  rn AS dsir_rank,
       |  rn <= tot // $DsirKeepDen AS selected
       |FROM ranked
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Text.decontaminate — mix-split eval holdout, distinct
    * [[graft.ext.Text.ContamN]]-gram collision counts, pure-BIGINT ppm
    * (`//`, zero float surface). */
  val textDecontaminate: String = {
    import graft.ext.Text.{ContamN, ContamEvalPct}
    val grams =
      s"""list_distinct(list_transform(
         |    generate_series(0, len(t) - $ContamN),
         |    i -> array_to_string(t[i+1:i+$ContamN], ' ')))""".stripMargin
    s"""WITH base AS (SELECT doc_id, lang, source, $toks AS t,
       |    ${mixSql("doc_id")} % 100 AS b FROM documents),
       |ev AS (SELECT DISTINCT unnest($grams) AS g
       |  FROM base WHERE b >= ${100 - ContamEvalPct} AND len(t) >= $ContamN),
       |tr AS (SELECT doc_id, unnest($grams) AS g
       |  FROM base WHERE b < ${100 - ContamEvalPct} AND len(t) >= $ContamN),
       |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS hits FROM tr
       |  WHERE g IN (SELECT g FROM ev) GROUP BY doc_id),
       |tbase AS (SELECT doc_id, lang, source,
       |    CASE WHEN len(t) >= $ContamN
       |      THEN CAST(len($grams) AS BIGINT) ELSE 0 END AS n_ngrams
       |  FROM base WHERE b < ${100 - ContamEvalPct})
       |SELECT tb.doc_id, tb.lang, tb.source, tb.n_ngrams,
       |  CAST(coalesce(h.hits, 0) AS BIGINT) AS n_contaminated,
       |  CASE WHEN tb.n_ngrams > 0
       |    THEN CAST((coalesce(h.hits, 0) * 1000000) // tb.n_ngrams AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS contamination_ppm,
       |  coalesce(h.hits, 0) >= 1 AS contaminated
       |FROM tbase tb LEFT JOIN hits h ON h.doc_id = tb.doc_id
       |ORDER BY tb.doc_id""".stripMargin
  }

  /** Twin of Text.bm25TopK — integer-exact BM25: single-ratio idf
    * ln((2N+2)/(2df+1)) via the micro-nat device at TERM grain, then pure
    * BIGINT saturation 22·tf/(10·tf+3+9·dl·N/T) with `//` quotients; the
    * per-(query,doc) score is an exact BIGINT sum, so the top-k ranking
    * (score DESC, doc_id) is deterministic in both engines. */
  private def textBm25TopKSql(queryLimit: Option[Int]): String = {
    import graft.ext.Text.{Bm25QueryPct, Bm25QueryTokens, Bm25TopK}
    // the bounded variant (twin of Text.bm25BoundedQueries) caps the query
    // batch by (mix, doc_id) — the search-only index arm's fixed workload
    val qsel = queryLimit match {
      case Some(n) =>
        s"""(SELECT doc_id, t FROM base WHERE b >= ${100 - Bm25QueryPct}
           |  ORDER BY ${mixSql("doc_id")}, doc_id LIMIT $n)""".stripMargin
      case None => s"base WHERE b >= ${100 - Bm25QueryPct}"
    }
    s"""WITH base AS (SELECT doc_id, $toks AS t,
       |    ${mixSql("doc_id")} % 100 AS b FROM documents),
       |dls AS (SELECT doc_id,
       |    CAST(len(list_filter(t, x -> x <> '')) AS BIGINT) AS dl FROM base),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(coalesce(sum(dl), 0) AS BIGINT) AS t FROM dls),
       |qt AS (SELECT doc_id AS qid,
       |    unnest(list_distinct(list_filter(t[1:$Bm25QueryTokens],
       |      x -> x <> ''))) AS token
       |  FROM $qsel),
       |tf AS (SELECT tk.doc_id, tk.token, CAST(count(*) AS BIGINT) AS tf,
       |    max(dls.dl) AS dl
       |  FROM (SELECT doc_id, unnest(t) AS token FROM base) tk
       |  JOIN dls ON dls.doc_id = tk.doc_id
       |  WHERE tk.token <> '' AND tk.token IN (SELECT token FROM qt)
       |  GROUP BY tk.doc_id, tk.token),
       |dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
       |  GROUP BY token),
       |sc AS (SELECT q.qid, f.doc_id,
       |    (CAST(FLOOR(-ln(CAST(2 * d.df + 1 AS DOUBLE)
       |        / CAST(2 * tot.n + 2 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      * ((f.tf * 22000000000000) //
       |         ((10 * f.tf + 3) * 1000000
       |          + 9 * ((f.dl * tot.n * 1000000) // tot.t)))) // 1000000 AS s
       |  FROM qt q JOIN tf f ON f.token = q.token
       |  JOIN dfr d ON d.token = q.token, tot),
       |agg AS (SELECT qid, doc_id, CAST(sum(s) AS BIGINT) AS score_mn,
       |    CAST(count(*) AS BIGINT) AS n_terms FROM sc GROUP BY qid, doc_id),
       |rk AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY score_mn DESC, doc_id) AS INTEGER) AS rank FROM agg)
       |SELECT qid, rank, doc_id, score_mn, n_terms, qid = doc_id AS self_hit
       |FROM rk WHERE rank <= $Bm25TopK
       |ORDER BY qid, rank""".stripMargin
  }

  val textBm25TopK: String = textBm25TopKSql(None)

  /** Twin of Text.bm25Rm3 — the RM3 chain: bounded first pass (the
    * [[textBm25TopKSql]] arithmetic verbatim), per-query expansion mining
    * (top non-query terms of the top docs, ties → token), then the
    * weighted second pass (`((idf·sat)//1e6 · w)//1e6`, originals
    * w=1e6 ≡ the unweighted score, expansions w=5e5). */
  val textBm25Rm3: String = {
    import graft.ext.Text.{Bm25QueryPct, Bm25QueryTokens, Bm25SearchQueries,
      Bm25TopK, Rm3ExpTerms, Rm3ExpWeightPpm}
    s"""WITH base AS (SELECT doc_id, $toks AS t,
       |    ${mixSql("doc_id")} % 100 AS b FROM documents),
       |dls AS (SELECT doc_id,
       |    CAST(len(list_filter(t, x -> x <> '')) AS BIGINT) AS dl FROM base),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(coalesce(sum(dl), 0) AS BIGINT) AS t FROM dls),
       |qt AS (SELECT doc_id AS qid,
       |    unnest(list_distinct(list_filter(t[1:$Bm25QueryTokens],
       |      x -> x <> ''))) AS token
       |  FROM (SELECT doc_id, t FROM base WHERE b >= ${100 - Bm25QueryPct}
       |    ORDER BY ${mixSql("doc_id")}, doc_id LIMIT $Bm25SearchQueries)),
       |dtok AS (SELECT doc_id, token FROM
       |    (SELECT doc_id, unnest(t) AS token FROM base) WHERE token <> ''),
       |tf1 AS (SELECT tk.doc_id, tk.token, CAST(count(*) AS BIGINT) AS tf,
       |    max(dls.dl) AS dl
       |  FROM dtok tk JOIN dls ON dls.doc_id = tk.doc_id
       |  WHERE tk.token IN (SELECT token FROM qt)
       |  GROUP BY tk.doc_id, tk.token),
       |df1 AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf1
       |  GROUP BY token),
       |sc1 AS (SELECT q.qid, f.doc_id,
       |    (CAST(FLOOR(-ln(CAST(2 * d.df + 1 AS DOUBLE)
       |        / CAST(2 * tot.n + 2 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      * ((f.tf * 22000000000000) //
       |         ((10 * f.tf + 3) * 1000000
       |          + 9 * ((f.dl * tot.n * 1000000) // tot.t)))) // 1000000 AS s
       |  FROM qt q JOIN tf1 f ON f.token = q.token
       |  JOIN df1 d ON d.token = q.token, tot),
       |rk1 AS (SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY sum(s) DESC, doc_id) AS rank
       |    FROM sc1 GROUP BY qid, doc_id)
       |  WHERE rank <= $Bm25TopK),
       |exp AS (SELECT qid, token, CAST($Rm3ExpWeightPpm AS BIGINT) AS w FROM (
       |    SELECT r.qid, d.token,
       |      row_number() OVER (PARTITION BY r.qid
       |        ORDER BY count(*) DESC, d.token) AS rk
       |    FROM rk1 r JOIN dtok d ON d.doc_id = r.doc_id
       |    LEFT JOIN qt q ON q.qid = r.qid AND q.token = d.token
       |    WHERE q.token IS NULL
       |    GROUP BY r.qid, d.token)
       |  WHERE rk <= $Rm3ExpTerms),
       |qt2 AS (SELECT qid, token, CAST(1000000 AS BIGINT) AS w FROM qt
       |  UNION ALL SELECT qid, token, w FROM exp),
       |tf2 AS (SELECT tk.doc_id, tk.token, CAST(count(*) AS BIGINT) AS tf,
       |    max(dls.dl) AS dl
       |  FROM dtok tk JOIN dls ON dls.doc_id = tk.doc_id
       |  WHERE tk.token IN (SELECT token FROM qt2)
       |  GROUP BY tk.doc_id, tk.token),
       |df2 AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf2
       |  GROUP BY token),
       |sc2 AS (SELECT q.qid, f.doc_id,
       |    (((CAST(FLOOR(-ln(CAST(2 * d.df + 1 AS DOUBLE)
       |        / CAST(2 * tot.n + 2 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      * ((f.tf * 22000000000000) //
       |         ((10 * f.tf + 3) * 1000000
       |          + 9 * ((f.dl * tot.n * 1000000) // tot.t)))) // 1000000)
       |      * q.w) // 1000000 AS s
       |  FROM qt2 q JOIN tf2 f ON f.token = q.token
       |  JOIN df2 d ON d.token = q.token, tot),
       |agg2 AS (SELECT qid, doc_id, CAST(sum(s) AS BIGINT) AS score_mn,
       |    CAST(count(*) AS BIGINT) AS n_terms FROM sc2 GROUP BY qid, doc_id),
       |rk2 AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY score_mn DESC, doc_id) AS INTEGER) AS rank FROM agg2)
       |SELECT qid, rank, doc_id, score_mn, n_terms, qid = doc_id AS self_hit
       |FROM rk2 WHERE rank <= $Bm25TopK
       |ORDER BY qid, rank""".stripMargin
  }

  /** The search-only index arm's oracle: same scoring, query batch capped
    * at [[graft.ext.Text.Bm25SearchQueries]]. */
  val textBm25Bounded: String =
    textBm25TopKSql(Some(graft.ext.Text.Bm25SearchQueries))

  /** Twin of Text.vocabDrift — mixer split, frozen old-corpus top-K vocab,
    * exact counts + pooled `<unk>` mass, pure-BIGINT ppm division (`//` in
    * DuckDB = `div` in Spark for non-negative operands; zero float
    * surface, immune to cross-build 1-ulp floor() drift). */
  val textVocabDrift: String = {
    import graft.ext.Text.{LmVocabCap, VocabDriftPpm}
    def ppm(c: String, t: String) =
      s"CAST(($c * 1000000) // $t AS BIGINT)"
    s"""WITH onz AS (SELECT token FROM (
       |    SELECT unnest($toks) AS token FROM documents
       |    WHERE ${mixSql("doc_id")} % 100 < 50) WHERE token <> ''),
       |nnz AS (SELECT token FROM (
       |    SELECT unnest($toks) AS token FROM documents
       |    WHERE ${mixSql("doc_id")} % 100 >= 50) WHERE token <> ''),
       |oc AS (SELECT token, count(*) AS c_old FROM onz GROUP BY token),
       |nc AS (SELECT token, count(*) AS c_new FROM nnz GROUP BY token),
       |vocab AS (SELECT token, c_old FROM oc ORDER BY c_old DESC, token LIMIT $LmVocabCap),
       |t AS (SELECT
       |    (SELECT count(*) FROM onz) AS t_old,
       |    (SELECT count(*) FROM nnz) AS t_new,
       |    (SELECT count(*) FROM onz) - (SELECT coalesce(sum(c_old), 0) FROM vocab) AS unk_old,
       |    (SELECT count(*) FROM nnz) - (SELECT coalesce(sum(nc.c_new), 0)
       |      FROM vocab JOIN nc ON nc.token = vocab.token) AS unk_new),
       |rows_ AS (
       |  SELECT v.token, v.c_old, coalesce(nc.c_new, 0) AS c_new
       |  FROM vocab v LEFT JOIN nc ON nc.token = v.token
       |  UNION ALL SELECT '<unk>', CAST(unk_old AS BIGINT),
       |    CAST(unk_new AS BIGINT) FROM t),
       |scored AS (
       |  SELECT r.token, r.c_old, r.c_new,
       |    ${ppm("r.c_old", "t.t_old")} AS ppm_old,
       |    ${ppm("r.c_new", "t.t_new")} AS ppm_new
       |  FROM rows_ r, t)
       |SELECT token, c_old, c_new, ppm_old, ppm_new,
       |  ppm_new - ppm_old AS ppm_shift,
       |  ppm_new - ppm_old > $VocabDriftPpm AS surged,
       |  ppm_new - ppm_old < -$VocabDriftPpm AS collapsed
       |FROM scored
       |ORDER BY token""".stripMargin
  }

  /** Twin of Corpus.curriculum — the [[nbCtes]] scores under a plain global
    * row_number standing in for the distributed rank operator, integer
    * phase arithmetic. */
  val corpusCurriculum: String = {
    import graft.ext.Corpus.CurriculumPhases
    s"""WITH $nbCtes,
       |scored AS (
       |  SELECT d.doc_id, $nbLoMicro AS lo
       |  FROM documents d
       |  LEFT JOIN perdoc p ON p.doc_id = d.doc_id, unk u),
       |ranked AS (
       |  SELECT doc_id, lo,
       |    row_number() OVER (ORDER BY lo DESC, doc_id) AS rn,
       |    count(*) OVER () AS tot
       |  FROM scored)
       |SELECT doc_id,
       |  ${R("CAST(lo AS DOUBLE) / 1e6", 4)} AS log_odds,
       |  rn AS curriculum_rank,
       |  CAST(((rn - 1) * $CurriculumPhases) // tot AS BIGINT) AS phase
       |FROM ranked
       |ORDER BY doc_id""".stripMargin
  }

  /** Twin of Corpus.dataCard — the [[nbCtes]] classifier chain plus a
    * renamed LM chain (lm* prefixes: the two models share token shapes but
    * not counts), per-source exact-integer aggregates, IEEE-single-division
    * ratios. */
  val corpusDataCard: String = {
    import graft.ext.Text.{LmVocabCap, LmCeOutlier}
    def pct(n: String) =
      R(s"100.0 * CAST($n AS DOUBLE) / CAST(b.n_docs AS DOUBLE)", 4)
    s"""WITH $nbCtes,
       |lmnz AS (SELECT doc_id, token FROM (
       |    SELECT doc_id, unnest($toks) AS token FROM documents)
       |  WHERE token <> ''),
       |lmcounts AS (SELECT token, count(*) AS c FROM lmnz GROUP BY token),
       |lmvocab AS (SELECT token, c FROM lmcounts ORDER BY c DESC, token LIMIT $LmVocabCap),
       |lmstats AS (SELECT
       |    (SELECT sum(c) FROM lmcounts) AS t,
       |    LEAST((SELECT count(*) FROM lmcounts), $LmVocabCap) + 1 AS veff,
       |    (SELECT sum(c) FROM lmcounts) - (SELECT coalesce(sum(c), 0) FROM lmvocab) AS coov),
       |lmmodel AS (SELECT token,
       |    CAST(FLOOR(-ln(CAST(c + 1 AS DOUBLE) / CAST(t + veff AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS mn
       |  FROM lmvocab, lmstats),
       |lmunk AS (SELECT
       |    CAST(FLOOR(-ln(CAST(coov + 1 AS DOUBLE) / CAST(t + veff AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS unk_mn
       |  FROM lmstats),
       |lmperdoc AS (
       |  SELECT lmnz.doc_id, count(*) AS n, sum(coalesce(lmmodel.mn, lmunk.unk_mn)) AS s
       |  FROM lmnz LEFT JOIN lmmodel ON lmnz.token = lmmodel.token, lmunk
       |  GROUP BY lmnz.doc_id),
       |basis AS (SELECT doc_id, source, lang, md5(text) AS h,
       |    CAST(len(list_filter($toks, w -> w <> '')) AS BIGINT) AS ntok
       |  FROM documents),
       |b AS (SELECT source, count(*) AS n_docs,
       |    count(DISTINCT h) AS n_unique_texts,
       |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
       |  FROM basis GROUP BY source),
       |gatec AS (SELECT d.source,
       |    sum(CASE WHEN l.weak_good THEN 1 ELSE 0 END) AS n_gate
       |  FROM documents d JOIN lab l ON l.doc_id = d.doc_id GROUP BY d.source),
       |nbs AS (SELECT d.source,
       |    sum(CASE WHEN $nbLoMicro > 0 THEN 1 ELSE 0 END) AS n_nb_good
       |  FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id, unk u
       |  GROUP BY d.source),
       |lms AS (SELECT d.source, sum(p.s) AS s_sum, sum(p.n) AS nt_sum,
       |    sum(CASE WHEN ${R("CAST(p.s AS DOUBLE) / (CAST(p.n AS DOUBLE) * 1e6)", 4)} > $LmCeOutlier
       |        THEN 1 ELSE 0 END) AS n_lm_outliers
       |  FROM lmperdoc p JOIN documents d ON d.doc_id = p.doc_id GROUP BY d.source)
       |SELECT b.source, b.n_docs, b.n_unique_texts, b.n_tokens,
       |  ${pct("b.n_en")} AS pct_en,
       |  ${pct("g.n_gate")} AS pct_gate_pass,
       |  ${pct("coalesce(nb.n_nb_good, 0)")} AS pct_nb_good,
       |  ${R("CAST(l.s_sum AS DOUBLE) / (CAST(l.nt_sum AS DOUBLE) * 1e6)", 4)} AS mean_cross_entropy,
       |  CAST(coalesce(l.n_lm_outliers, 0) AS BIGINT) AS n_lm_outliers
       |FROM b
       |JOIN gatec g ON g.source = b.source
       |LEFT JOIN nbs nb ON nb.source = b.source
       |LEFT JOIN lms l ON l.source = b.source
       |ORDER BY b.source""".stripMargin
  }

  /** Twin of Corpus.releaseManifest — the release algebra composed from
    * the three component twins verbatim (kept ∧ train ∧ ¬contaminated ∧
    * ¬any-modality-near-dup): the decontaminate twin is already
    * train-split-scoped, so the inner join restricts the sampler's kept
    * set to trainable docs exactly like the pipeline stage. */
  lazy val corpusReleaseManifest: String =
    s"""WITH qs AS (SELECT * FROM ($corpusQualitySample)),
       |dec AS (SELECT * FROM ($textDecontaminate)),
       |xm AS (SELECT doc_id FROM ($mediaCrossModalDups) WHERE any_dup)
       |SELECT qs.doc_id, qs.lang, qs.source,
       |  dec.n_contaminated, dec.contaminated
       |FROM qs JOIN dec ON dec.doc_id = qs.doc_id
       |WHERE qs.kept AND NOT dec.contaminated
       |  AND qs.doc_id NOT IN (SELECT doc_id FROM xm)
       |ORDER BY qs.doc_id""".stripMargin

  val all: Map[String, String] = Map(
    "corpus_release_manifest" -> corpusReleaseManifest,
    "corpus_data_card" -> corpusDataCard,
    "corpus_curriculum" -> corpusCurriculum,
    "sim_embedding_drift" -> simEmbeddingDrift,
    "text_vocab_drift" -> textVocabDrift,
    "text_dsir_select" -> textDsirSelect,
    "text_decontaminate" -> textDecontaminate,
    "text_bm25_topk" -> textBm25TopK,
    "text_nb_calibration" -> textNbCalibration,
    // the persisted-index twins are bit-identical to the batch operator by
    // construction (shared scoring tail over bit-identical postings): the
    // build+search harness shares its oracle outright, the search-only arm
    // the bounded-query-batch variant — same device as sim_ann_index
    "text_bm25_indexed" -> textBm25TopK,
    "text_bm25_index_search" -> textBm25Bounded,
    "text_bm25_rm3" -> textBm25Rm3,
    // the index-backed RM3 is bit-identical to the batch arm by
    // construction (TextIndexSpec pins it) — shared oracle
    "text_bm25_rm3_indexed" -> textBm25Rm3,
    "text_hybrid_rrf" -> textHybridRrf,
    "text_hybrid_rrf_indexed" -> textHybridRrfIndexed,
    "text_retrieval_quality" -> textRetrievalQuality,
    "text_context_pack" -> textContextPack,
    "media_audio_dups" -> mediaAudioDups,
    "media_video_dups" -> mediaVideoDups,
    "dedup_cross_modal" -> mediaCrossModalDups,
    // the store-backed audit is bit-identical to the decode-everything
    // report by construction (a fingerprint is a pure function of the
    // file's bytes; FingerprintStoreSpec pins it) — shared oracle
    "dedup_cross_modal_indexed" -> mediaCrossModalDups,
    "text_blocklist_filter" -> textBlocklistFilter,
    "text_langid_confusion" -> textLangidConfusion,
    "sampling_cluster_balanced" -> samplingClusterBalanced,
    "text_lm_score" -> textLmScore,
    "text_source_divergence" -> textSourceDivergence,
    "corpus_reject_ledger" -> corpusRejectLedger,
    "sampling_cluster_split" -> samplingClusterSplit,
    "scd2_user_event_type" -> scd2UserEventType,
    "cdf_customer_orders" -> cdfCustomerOrders,
    "incr_monthly_revenue" -> incrMonthlyRevenue,
    "sampling_train_val_test" -> samplingSplit,
    "sampling_k_per_stratum" -> samplingStratum,
    "sampling_contamination" -> samplingContamination,
    "sampling_decon_train" -> samplingDeconTrain,
    "stats_table_profile" -> sketchTableProfile,
    "stats_profile_incremental" -> sketchStatsIncremental,
    "stats_drift" -> sketchStatsDrift,
    "stats_quantile_profile" -> sketchQuantileProfile,
    "pii_scan" -> piiScan,
    "pii_k_anonymity" -> piiKAnonymity,
    "pii_redacted" -> piiRedacted,
    "corpus_mix_by_source" -> corpusMix,
    "media_kind_summary" -> mediaKindSummary,
    "media_resize_summary" -> mediaResizeSummary,
    "media_phash_pairs" -> mediaPhashPairs,
    "text_gopher_rules" -> textGopherRules,
    "text_nb_quality" -> textNbQuality,
    "corpus_quality_sample" -> corpusQualitySample,
    "text_repetition" -> textRepetition,
    "dedup_clusters" -> dedupClusters,
    "events_purchase_attribution" -> eventsPurchaseAttribution,
    "corpus_pack_sequences" -> corpusPackSequences,
    "corpus_export_shards" -> corpusExportShards,
    "corpus_sliding_windows" -> corpusSlidingWindows,
    "corpus_preprocess" -> corpusPreprocess,
    "corpus_length_batches" -> corpusLengthBatches,
    "corpus_batch_padding" -> corpusBatchPadding,
    "corpus_token_budget_mix" -> corpusTokenBudgetMix,
    "corpus_rebalanced_mix" -> corpusRebalancedMix,
    "corpus_temperature_mix" -> corpusTemperatureMix,
    "corpus_epoch_plan" -> corpusEpochPlan,
    "dedup_chunk_rewrite" -> dedupChunkRewrite,
    "sim_ann_ivf" -> simAnnIvf,
    "sim_ann_ivf_kmeans" -> simAnnIvfKmeans,
    "sim_ann_ivf_hier" -> simAnnIvfHier,
    "sim_ann_ivf_rp" -> simAnnIvfRp,
    "sim_ann_ivf_rp_pq" -> simAnnIvfRpPq,
    "sim_hard_negatives" -> simHardNegatives,
    "sim_ann_ivf_hier_spill" -> simAnnIvfHierSpill,
    // the persisted index is bit-identical to the hier operator by
    // construction (same frozen model, exact parquet round-trip), so it is
    // held to the SAME oracle — an independent full-strength check, not a
    // rows-only waiver
    "sim_ann_index" -> simAnnIvfHier,
    "sim_ann_ivf_pq" -> simAnnIvfPq,
    // same device for the PQ-encoded persisted index: bit-identical to the
    // recompute-everything PQ operator (frozen model + codebooks round-trip
    // parquet exactly), so it shares that full-strength oracle
    "sim_ann_index_pq" -> simAnnIvfPq,
    "sim_ann_index_pq_search" -> simAnnIvfPq,
    "sim_pq_error" -> simPqError,
    "sim_recall_audit" -> simRecallAudit,
    "sim_recall_audit_sampled" -> simRecallAuditSampled,
    "sim_rp_recall_planted" -> simRpRecallPlanted,
    "events_asof_purchase_view" -> eventsAsofPurchaseView,
    "events_user_type_pivot" -> eventsUserTypePivot,
    "revenue_rollup" -> revenueRollup,
    "consumer_top_clv" -> consumerTopClv,
    "consumer_strategic_suppliers" -> consumerStrategicSuppliers,
    "consumer_regional_revenue_1998" -> consumerRegionalRevenue1998,
    "consumer_monthly_trend_report" -> consumerMonthlyTrendReport,
    "text_stats" -> textStats,
    "text_langid" -> textLangid,
    "text_fingerprint" -> textFingerprint,
    "text_token_frequency" -> textTokenFrequency,
    "text_length_quantiles" -> textLengthQuantiles,
    "text_bigram_frequency" -> textBigramFrequency,
    "text_bpe_merges" -> textBpeMerges,
    "text_bpe_tokenize" -> textBpeTokenize,
    "text_bpe_frozen" -> textBpeFrozen,
    "text_cms_heavy_hitters" -> textCmsHeavyHitters,
    "text_cms_indexed" -> textCmsIndexed,
    "text_top_tfidf" -> textTopTfidf,
    "dedup_exact" -> dedupExact,
    "dedup_incremental_bloom" -> dedupIncrementalNew,
    "dedup_source_overlap" -> dedupSourceOverlap,
    "dedup_source_overlap_est" -> dedupSourceOverlapEst,
    "dedup_canonical_corpus" -> dedupCanonicalCorpus,
    "dedup_near_filtered" -> dedupNearDupFiltered,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_containment" -> dedupContainment,
    "dedup_boilerplate" -> dedupBoilerplate,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_kmeans" -> dedupSemanticKmeans,
    "dedup_semantic_rp" -> dedupSemanticRp,
    "dedup_semantic_rp_agreement" -> dedupSemanticRpAgreement,
    "dedup_chunk_spans" -> dedupChunkSpans,
    "sim_knn_bruteforce" -> simKnnBruteForce,
    "sim_rp_distortion" -> simRpDistortion,
    "sim_rp_knn" -> simRpKnn,
    "quality_embeddings" -> qualityEmbeddings,
    "sim_ann_lsh" -> simAnnLsh,
    "sim_lsh_calibration" -> simLshCalibration,
    "sim_quantized_knn" -> simQuantizedKnn,
    "sim_quantization_error" -> simQuantizationError,
    "events_tumbling_hourly" -> eventsTumblingHourly,
    "events_sliding_hourly" -> eventsSlidingHourly,
    "events_sessions" -> eventsSessions,
    "events_session_windows" -> eventsSessionWindows,
    "events_user_rolling_daily" -> eventsUserRollingDaily,
    "events_anomaly_days" -> eventsAnomalyDays,
    "events_user_series_corr" -> eventsUserSeriesCorr,
    "events_type_kpis" -> eventsTypeKpis,
    "events_funnel" -> eventsFunnel,
    "events_weekly_retention" -> eventsWeeklyRetention,
    "events_value_histogram" -> eventsValueHistogram
  )
}
