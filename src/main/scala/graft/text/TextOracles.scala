package graft.text

import graft.functions.TextHashSql._

/** DuckDB oracle SQL mirroring [[TextAnalysis]] (driver runs these over the
  * same parquet tables and hash-compares — see Verify/tools/check.py). */
object TextOracles {

  private val toks = tokens("text")

  private def langScoreSql(markers: Seq[String]): String =
    s"len(list_filter(t.toks, x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  val tokenStats: String =
    s"""SELECT doc_id,
       |  len(t.toks) AS n_tokens,
       |  len(list_distinct(t.toks)) AS n_distinct_tokens,
       |  length(text) AS n_chars_actual,
       |  round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(t.toks, x -> CAST(length(x) AS BIGINT))), (a,b) -> a+b) AS DOUBLE) / len(t.toks), 4) AS avg_token_len,
       |  list_reduce(list_prepend(0, list_transform(t.toks, x -> length(x))), (a,b) -> greatest(a,b)) AS max_token_len
       |FROM (SELECT doc_id, text, $toks AS toks FROM documents) t
       |ORDER BY doc_id""".stripMargin

  val quality: String = {
    val en = TextAnalysis.langMarkers.toMap.apply("en")
    s"""SELECT doc_id,
       |  len(t.toks) AS n_tokens,
       |  round(CAST(${langScoreSql(en)} AS DOUBLE) / len(t.toks), 4) AS stopword_ratio,
       |  round(CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks), 4) AS lexical_diversity,
       |  round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha_ratio,
       |  CASE WHEN len(t.toks) BETWEEN 20 AND 200
       |         AND CAST(${langScoreSql(en)} AS DOUBLE) / len(t.toks) > 0.01 THEN 'good'
       |       WHEN len(t.toks) >= 10 THEN 'fair' ELSE 'poor' END AS quality_bucket
       |FROM (SELECT doc_id, text, $toks AS toks FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  val langId: String = {
    val scores = TextAnalysis.langMarkers.map { case (l, ms) => l -> langScoreSql(ms) }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val pick = scores.reverse.foldLeft("'und'") { case (acc, (l, s)) =>
      s"CASE WHEN $best > 0 AND $s = $best THEN '$l' ELSE $acc END"
    }
    s"""SELECT doc_id, lang AS declared_lang,
       |  ${scores.map { case (l, s) => s"$s AS score_$l" }.mkString(",\n  ")},
       |  $pick AS detected_lang
       |FROM (SELECT doc_id, lang, $toks AS toks FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Confusion cells + per-declared share over the [[langId]] CTE. */
  val langConfusion: String =
    s"""WITH ids AS ($langId),
       |cells AS (SELECT declared_lang, detected_lang,
       |            CAST(COUNT(*) AS BIGINT) AS n
       |          FROM ids GROUP BY 1, 2),
       |tots AS (SELECT declared_lang, CAST(SUM(n) AS BIGINT) AS tot
       |         FROM cells GROUP BY 1)
       |SELECT c.declared_lang, c.detected_lang, c.n,
       |       round(CAST(c.n AS DOUBLE) / t.tot, 6) AS share
       |FROM cells c JOIN tots t ON t.declared_lang = c.declared_lang
       |ORDER BY c.declared_lang, c.detected_lang""".stripMargin

  /** sqrt-chain powers, micro-unit quantization, exact normalizers. */
  val temperatureShares: String = {
    val cases = Seq(
      "0.25" -> "sqrt(sqrt(CAST(m_tokens AS DOUBLE)))",
      "0.5" -> "sqrt(CAST(m_tokens AS DOUBLE))",
      "1.0" -> "CAST(m_tokens AS DOUBLE)")
    val arms = cases.map { case (a, p) =>
      s"""SELECT '$a' AS alpha, source, m_tokens,
         |  CAST(floor($p * 1000000 + 0.5) AS BIGINT) AS q FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT source,
       |  CAST(SUM(len($toks)) AS BIGINT) AS m_tokens
       |  FROM documents GROUP BY 1),
       |u AS ($arms),
       |t AS (SELECT alpha, CAST(SUM(q) AS BIGINT) AS tot FROM u GROUP BY 1)
       |SELECT u.alpha, u.source, u.m_tokens,
       |       round(CAST(u.q AS DOUBLE) / t.tot, 6) AS share
       |FROM u JOIN t ON t.alpha = u.alpha
       |ORDER BY u.alpha, u.source""".stripMargin
  }

  /** All-occurrence 8-gram census; same rolling shingle hash. */
  val dupNgramCoverage: String =
    s"""WITH th AS (SELECT ${tokenHashes("text")} AS th FROM documents),
       |g AS (SELECT unnest(${shingleHashes("th", 8)}) AS g FROM th),
       |c AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY g)
       |SELECT CAST(SUM(c) AS BIGINT) AS n_grams_total,
       |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |       CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
       |         AS dup_occurrences,
       |       CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
       |         AS removable_mass,
       |       round(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
       |             / SUM(c), 6) AS dup_fraction
       |FROM c""".stripMargin

  /** Per-length mass frame, running sum, integer quantile pick. */
  val seqLenQuantiles: String =
    s"""WITH by_len AS (
       |  SELECT CAST(len($toks) AS BIGINT) AS len,
       |         CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |cum AS (SELECT len, len * n_docs AS mass,
       |          CAST(SUM(len * n_docs) OVER (ORDER BY len
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS cum
       |        FROM by_len),
       |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS tot FROM cum),
       |qs AS (SELECT unnest([50, 90, 99]) AS q),
       |hit AS (SELECT q, len, cum, tot,
       |          row_number() OVER (PARTITION BY q ORDER BY len) AS rk
       |        FROM cum, tot, qs
       |        WHERE cum * 100 >= q * tot)
       |SELECT CAST(q AS INT) AS q, len AS max_seq_len,
       |       cum AS covered_tokens, tot AS total_tokens,
       |       round(CAST(cum AS DOUBLE) / tot, 6) AS coverage
       |FROM hit WHERE rk = 1
       |ORDER BY q""".stripMargin

  val fingerprint: String =
    s"""SELECT doc_id,
       |  md5(text) AS md5_fp,
       |  ${rollHash("text")} AS roll_hash,
       |  ${simhash32("th")} AS simhash
       |FROM (SELECT doc_id, text, ${tokenHashes("text")} AS th FROM documents)
       |ORDER BY doc_id""".stripMargin

  val bpeTokens: String = {
    val pat = TextAnalysis.PreTokenPattern // \s is valid in both regex engines
    s"""SELECT doc_id,
       |  len(t.ts) AS n_pretokens,
       |  len(list_filter(t.ts, x -> regexp_full_match(x, '[A-Za-z]+'))) AS n_word,
       |  len(list_filter(t.ts, x -> regexp_full_match(x, '[0-9]+'))) AS n_number,
       |  len(list_filter(t.ts, x -> NOT regexp_matches(x, '^[A-Za-z0-9]'))) AS n_punct,
       |  len(list_distinct(t.ts)) AS n_vocab
       |FROM (SELECT doc_id, regexp_extract_all(text, '$pat') AS ts FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-language epoch plan: all-BIGINT floor arithmetic against the
    * declared thousandths weights. */
  val mixtureWeights: String = {
    val w = TextAnalysis.targetMixture.reverse.foldLeft("0") {
      case (acc, (l, r)) => s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
    }
    s"""WITH per_lang AS (
       |  SELECT lang, CAST(SUM(len($toks)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS budget FROM per_lang)
       |SELECT lang, n_tokens, CAST($w AS BIGINT) AS weight_target,
       |       CAST(budget * CAST($w AS BIGINT) // 1000 AS BIGINT) AS target_tokens,
       |       CAST((budget * CAST($w AS BIGINT) // 1000) * 1000 // n_tokens
       |            AS BIGINT) AS epochs_milli
       |FROM per_lang CROSS JOIN tot
       |ORDER BY lang""".stripMargin
  }

  /** Cross-scaled per-source drift of the 6-dp-quantized quality score —
    * HUGEINT products cast to BIGINT at the edge, mirroring the engine's
    * DECIMAL accumulation. */
  val qualityDrift: String =
    s"""WITH q AS (
       |  SELECT source,
       |    (${strHash("'half:' || CAST(doc_id AS VARCHAR)")} % 2) = 0 AS old_half,
       |    CAST(floor(round((CAST(len(list_distinct(t.toks)) AS DOUBLE)
       |           / len(t.toks)) * ln(1.0 + len(t.toks)), 6)
       |         * 1000000 + 0.5) AS BIGINT) AS sq
       |  FROM (SELECT source, doc_id, $toks AS toks FROM documents) t),
       |agg AS (SELECT source, old_half, CAST(COUNT(*) AS BIGINT) AS n,
       |               CAST(SUM(sq) AS BIGINT) AS s
       |        FROM q GROUP BY source, old_half)
       |SELECT o.source, o.n AS n_old, w.n AS n_new,
       |       CAST(CAST(o.n AS HUGEINT) * w.s - CAST(w.n AS HUGEINT) * o.s
       |            AS BIGINT) AS drift_q
       |FROM (SELECT * FROM agg WHERE old_half) o
       |JOIN (SELECT * FROM agg WHERE NOT old_half) w ON o.source = w.source
       |ORDER BY o.source""".stripMargin

  /** Split-keyed batch windows under both strategies; all-integer until
    * the final share division. */
  val paddingWaste: String = {
    val h = s"(${strHash("'split:' || CAST(doc_id AS VARCHAR)")} % 100)"
    def strat(name: String, order: String) =
      s"""SELECT split, '$name' AS strategy,
         |       CAST(COUNT(*) AS BIGINT) AS n_batches,
         |       CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |       CAST(SUM(mx * n_docs) AS BIGINT) AS padded_tokens,
         |       round(CAST(SUM(mx * n_docs) - SUM(toks) AS DOUBLE) /
         |             SUM(mx * n_docs), 6) AS waste_share
         |FROM (
         |  SELECT split, batch, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(tok) AS BIGINT) AS toks, MAX(tok) AS mx
         |  FROM (
         |    SELECT split, tok,
         |      CAST((ROW_NUMBER() OVER (PARTITION BY split ORDER BY $order) - 1)
         |        // ${TextAnalysis.BatchDocs} AS BIGINT) AS batch
         |    FROM base)
         |  GROUP BY split, batch)
         |GROUP BY split""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CASE WHEN $h < 80 THEN 'train'
       |         WHEN $h < 90 THEN 'valid' ELSE 'test' END AS split,
       |    CAST(len($toks) AS BIGINT) AS tok
       |  FROM documents)
       |${strat("arrival", "doc_id")}
       |UNION ALL
       |${strat("length_sorted", "tok, doc_id")}
       |ORDER BY split, strategy""".stripMargin
  }

  val splitAssign: String = {
    val h = s"(${strHash("'split:' || CAST(doc_id AS VARCHAR)")} % 100)"
    s"""SELECT doc_id, $h AS split_hash,
       |  CASE WHEN $h < 80 THEN 'train'
       |       WHEN $h < 90 THEN 'valid' ELSE 'test' END AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Rendezvous sharding: identical packed-BIGINT argmax, exact census. */
  val hrwShards: String = {
    def key(n: Int) = "greatest(" + (0 until n).map(i =>
      s"(${strHash(s"'hrw:$i:' || CAST(doc_id AS VARCHAR)")} * 16 + $i)")
      .mkString(", ") + ")"
    s"""WITH a AS (SELECT doc_id, n_chars,
       |  CAST(${key(8)} % 16 AS INT) AS shard,
       |  CAST(${key(9)} % 16 AS INT) AS shard9
       |FROM documents)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(SUM(CASE WHEN shard9 <> shard THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_moved
       |FROM a GROUP BY 1 ORDER BY shard""".stripMargin
  }

  /** DSIR importance: identical smoothing arithmetic, token-sorted fold,
    * rank on the raw (bit-identical) weight, round 6 at the edge. */
  val dsirImportance: String =
    s"""WITH tok AS (SELECT doc_id, source, unnest($toks) AS token FROM documents),
       |per_doc AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
       |            FROM tok GROUP BY 1, 2),
       |raw AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_raw FROM tok GROUP BY 1),
       |tgt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_tgt FROM tok
       |        WHERE source = '${TextAnalysis.DsirTarget}' GROUP BY 1),
       |vocab AS (SELECT raw.token, c_raw, COALESCE(c_tgt, CAST(0 AS BIGINT)) AS c_tgt
       |          FROM raw LEFT JOIN tgt ON raw.token = tgt.token),
       |sc AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
       |              CAST(SUM(c_tgt) AS BIGINT) AS n_tgt,
       |              CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
       |delta AS (SELECT token,
       |            ln(CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + v)) -
       |            ln(CAST(c_raw + 1 AS DOUBLE) / (n_raw + v)) AS delta
       |          FROM vocab CROSS JOIN sc),
       |terms AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |              list(cd ORDER BY token)), (a, b) -> a + b) AS s
       |          FROM (SELECT p.doc_id, p.token, p.c,
       |                  CAST(p.c AS DOUBLE) * d.delta AS cd
       |                FROM per_doc p JOIN delta d ON p.token = d.token)
       |          GROUP BY doc_id),
       |w AS (SELECT t.doc_id, d.source, t.n_tokens, t.s / t.n_tokens AS w
       |      FROM terms t JOIN documents d ON t.doc_id = d.doc_id)
       |SELECT rnk, doc_id, source, n_tokens, round(w, 6) AS importance
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) AS rnk FROM w)
       |WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  /** The BPE training rounds as chained CTEs — shared by the train face
    * (emits the merge table) and the apply face (encodes with it). */
  private def bpeRoundCtes(k: Int): String = {
    // chr(k): out-of-alphabet merge sentinel (mirrors TextAnalysis.bpeTrain
    // — a literal corpus 'A'/'B'/'C' can never alias a merged symbol)
    s"""p$k AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS merged_count FROM (
       |  SELECT wc, unnest(list_transform(range(1, length(word)),
       |    i -> substr(word, CAST(i AS INT), 2))) AS pair
       |  FROM w${k - 1} WHERE length(word) >= 2) GROUP BY 1),
       |r$k AS (SELECT $k AS round, pair, merged_count, chr($k) AS new_symbol
       |        FROM p$k ORDER BY merged_count DESC, pair LIMIT 1),
       |w$k AS (SELECT word, CAST(SUM(wc) AS BIGINT) AS wc FROM (
       |          SELECT replace(word, (SELECT pair FROM r$k), chr($k)) AS word, wc
       |          FROM w${k - 1}) GROUP BY 1)""".stripMargin
  }

  private val bpeTrainCtes: String =
    s"""w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest($toks) AS word FROM documents) GROUP BY 1),
       |${(1 to 3).map(bpeRoundCtes).mkString(",\n")}""".stripMargin

  /** Multi-round BPE: identical pair counts, (cnt DESC, pair) argmax,
    * replace() rewrite per round. */
  val bpeTrain: String =
    s"""WITH $bpeTrainCtes
       |SELECT round, pair, merged_count, new_symbol
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |      UNION ALL SELECT * FROM r3)
       |ORDER BY round""".stripMargin

  val bpeApply: String = {
    val enc = (1 to 3).foldLeft("word") { (acc, k) =>
      s"replace($acc, (SELECT pair FROM r$k), chr($k))"
    }
    s"""WITH $bpeTrainCtes,
       |sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS wc
       |  FROM (SELECT source, unnest($toks) AS word FROM documents)
       |  GROUP BY 1, 2),
       |e AS (SELECT source, wc,
       |        CAST(length(word) AS BIGINT) AS wl,
       |        CAST(length($enc) AS BIGINT) AS el
       |      FROM sw)
       |SELECT source,
       |       CAST(SUM(wc) AS BIGINT) AS n_words,
       |       CAST(SUM(wl * wc) AS BIGINT) AS chars_total,
       |       CAST(SUM(el * wc) AS BIGINT) AS symbols_total,
       |       round(CAST(SUM(el * wc) AS DOUBLE) / SUM(wl * wc), 6)
       |         AS compression
       |FROM e GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Mirrors [[TextAnalysis.bpeFertility]]: same trained rules and encode
    * chain as [[bpeApply]], re-keyed by lang, merge applications counted
    * as the word→enc length delta (each merge is 2 symbols → 1). */
  val bpeFertility: String = {
    val enc = (1 to 3).foldLeft("word") { (acc, k) =>
      s"replace($acc, (SELECT pair FROM r$k), chr($k))"
    }
    s"""WITH $bpeTrainCtes,
       |lw AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS wc
       |  FROM (SELECT lang, unnest($toks) AS word FROM documents)
       |  GROUP BY 1, 2),
       |e AS (SELECT lang, wc,
       |        CAST(length(enc) AS BIGINT) AS el,
       |        CAST(length(word) - length(enc) AS BIGINT) AS ml
       |      FROM (SELECT lang, wc, word, $enc AS enc FROM lw))
       |SELECT lang,
       |       CAST(SUM(wc) AS BIGINT) AS n_words,
       |       CAST(SUM(el * wc) AS BIGINT) AS n_symbols,
       |       round(CAST(SUM(el * wc) AS DOUBLE) / SUM(wc), 6) AS fertility,
       |       round(CAST(SUM(ml * wc) AS DOUBLE) / SUM(el * wc), 6)
       |         AS merged_share
       |FROM e GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** Mirrors [[TextAnalysis.annealMix]]: the 'good' gate is [[quality]]'s
    * predicate verbatim; all allocation arithmetic is integer DIV chains. */
  val annealMix: String = {
    val en = TextAnalysis.langMarkers.toMap.apply("en")
    val ap = TextAnalysis.AnnealPermille
    s"""WITH d AS (
       |  SELECT source, CAST(len(t.toks) AS BIGINT) AS n,
       |         (len(t.toks) BETWEEN 20 AND 200
       |          AND CAST(${langScoreSql(en)} AS DOUBLE) / len(t.toks) > 0.01) AS hq
       |  FROM (SELECT source, $toks AS toks FROM documents) t),
       |s AS (
       |  SELECT source, CAST(SUM(n) AS BIGINT) AS tokens_total,
       |         CAST(SUM(CASE WHEN hq THEN n ELSE 0 END) AS BIGINT) AS tokens_hq
       |  FROM d GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(tokens_total) AS BIGINT) AS b,
       |         CAST(SUM(tokens_hq) AS BIGINT) AS b_hq FROM s)
       |SELECT source, tokens_total, tokens_hq,
       |       CAST(((b * ${1000 - ap} // 1000) * (tokens_total * 1000 // b))
       |            // 1000 AS BIGINT) AS p1_target,
       |       CAST(CASE WHEN b_hq > 0 THEN
       |              ((b * $ap // 1000) * (tokens_hq * 1000 // b_hq)) // 1000
       |            ELSE 0 END AS BIGINT) AS p2_target,
       |       CAST(((b * ${1000 - ap} // 1000) * (tokens_total * 1000 // b))
       |            // 1000 * 1000 // tokens_total AS BIGINT) AS p1_epochs_milli,
       |       CAST(CASE WHEN tokens_hq > 0 THEN
       |              (CASE WHEN b_hq > 0 THEN
       |                 ((b * $ap // 1000) * (tokens_hq * 1000 // b_hq)) // 1000
       |               ELSE 0 END) * 1000 // tokens_hq
       |            END AS BIGINT) AS p2_epochs_milli
       |FROM s CROSS JOIN tot
       |ORDER BY source""".stripMargin
  }

  val stratifiedSample: String = {
    val h = s"(${strHash("'strat:' || CAST(doc_id AS VARCHAR)")} % 1000)"
    val rate = TextAnalysis.sampleRates.reverse.foldLeft("0") {
      case (acc, (l, r)) => s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
    }
    s"""SELECT doc_id, lang, $h AS gate
       |FROM documents
       |WHERE $h < $rate
       |ORDER BY doc_id""".stripMargin
  }

  val packSequences: String =
    s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS excl
       |      FROM t)
       |SELECT doc_id, n_tokens,
       |       CAST(FLOOR(excl / 512.0) AS BIGINT) AS pack_id,
       |       excl % 512 AS pack_offset
       |FROM c
       |ORDER BY doc_id""".stripMargin

  val repetition: String =
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, ${tokenHashes("text")} AS th FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, ${shingleHashes("th", 2)} AS bg,
       |         ${shingleHashes("th", 3)} AS tg FROM t),
       |bc AS (SELECT doc_id, gram, COUNT(*) AS c
       |       FROM (SELECT doc_id, unnest(bg) AS gram FROM g) GROUP BY 1, 2),
       |b AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg,
       |             CAST(MAX(c) AS BIGINT) AS top_bg FROM bc GROUP BY 1),
       |tc AS (SELECT doc_id, gram, COUNT(*) AS c
       |       FROM (SELECT doc_id, unnest(tg) AS gram FROM g) GROUP BY 1, 2),
       |tr AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tg,
       |              CAST(COUNT(*) AS BIGINT) AS n_distinct_tg FROM tc GROUP BY 1)
       |SELECT COALESCE(b.doc_id, tr.doc_id) AS doc_id,
       |       COALESCE(n_bg, 0) AS n_bigrams,
       |       COALESCE(top_bg, 0) AS top_bigram_count,
       |       round(COALESCE(CAST(top_bg AS DOUBLE) / n_bg, 0.0), 4) AS top_bigram_share,
       |       COALESCE(n_tg, 0) AS n_trigrams,
       |       round(COALESCE(1.0 - CAST(n_distinct_tg AS DOUBLE) / n_tg, 0.0), 4)
       |         AS trigram_repeat_ratio,
       |       CASE WHEN round(COALESCE(CAST(top_bg AS DOUBLE) / n_bg, 0.0), 4) > 0.05
       |              OR round(COALESCE(1.0 - CAST(n_distinct_tg AS DOUBLE) / n_tg, 0.0), 4) > 0.05
       |            THEN 'repetitive' ELSE 'ok' END AS repetition_flag
       |FROM b FULL OUTER JOIN tr USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val contamination: String = {
    val h = s"(${strHash("'split:' || CAST(doc_id AS VARCHAR)")} % 100)"
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id, $h AS sh,
       |         unnest(list_distinct(${shingleHashes("th", 5)})) AS gram
       |  FROM (SELECT doc_id, ${tokenHashes("text")} AS th FROM documents)),
       |train AS (SELECT DISTINCT gram FROM g WHERE sh < 80)
       |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |       CAST(SUM(CASE WHEN train.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_contaminated,
       |       round(CAST(SUM(CASE WHEN train.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / COUNT(*), 4) AS contamination_ratio
       |FROM g LEFT JOIN train ON g.gram = train.gram
       |WHERE g.sh >= 90
       |GROUP BY g.doc_id
       |ORDER BY g.doc_id""".stripMargin
  }

  val corpusBuild: String = {
    val h = s"(${strHash("'split:' || CAST(doc_id AS VARCHAR)")} % 100)"
    s"""WITH surv AS (
       |  SELECT MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens
       |  FROM (SELECT md5(lower(trim(text))) AS fp, doc_id,
       |               CAST(len($toks) AS BIGINT) AS n_tokens
       |        FROM documents)
       |  GROUP BY fp),
       |gated AS (SELECT * FROM surv WHERE n_tokens BETWEEN 10 AND 400),
       |split AS (
       |  SELECT doc_id, n_tokens,
       |         CASE WHEN $h < 80 THEN 'train'
       |              WHEN $h < 90 THEN 'valid' ELSE 'test' END AS split
       |  FROM gated)
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |       round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 2) AS avg_tokens
       |FROM split GROUP BY split
       |ORDER BY split""".stripMargin
  }

  val rareTokens: String =
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS word FROM documents),
       |freq AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |       CAST(SUM(freq) AS BIGINT) AS sum_freq,
       |       CAST(SUM(CASE WHEN freq <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |       round(CAST(SUM(CASE WHEN freq <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS rare_ratio
       |FROM tok JOIN freq USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  val lengthHistogram: String =
    s"""SELECT (len($toks) // 10) * 10 AS bucket_lo, COUNT(*) AS n_docs
       |FROM documents
       |GROUP BY 1
       |ORDER BY bucket_lo""".stripMargin

  val qualityDeciles: String =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |         round((CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks))
       |               * ln(1.0 + len(t.toks)), 6) AS score
       |  FROM (SELECT doc_id, $toks AS toks FROM documents) t)
       |SELECT doc_id, score,
       |       CAST(NTILE(10) OVER (ORDER BY score DESC, doc_id) AS INT) AS decile
       |FROM scored
       |QUALIFY doc_id % 10 = 0
       |ORDER BY doc_id""".stripMargin

  // exact top-10 — the MG sketch runs in its exact regime (vocab ≪ k)
  val heavyHitters: String =
    s"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS INT) AS rn,
       |       word, n FROM (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest($toks) AS word FROM documents)
       |  GROUP BY word)
       |ORDER BY n DESC, word LIMIT 10""".stripMargin

  val bpeMerge: String =
    s"""WITH wc AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest($toks) AS word FROM documents)
       |  GROUP BY word),
       |pairs AS (
       |  SELECT unnest(list_transform(range(1, length(word)),
       |           i -> substr(word, CAST(i AS INT), 2))) AS pair, wc
       |  FROM wc WHERE length(word) >= 2),
       |cnts AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
       |         FROM pairs GROUP BY pair)
       |SELECT * FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rn,
       |         pair, cnt FROM cnts)
       |WHERE rn <= 10 ORDER BY rn""".stripMargin

  val topkWords: String =
    s"""SELECT lang, word, n, rn FROM (
       |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |           ORDER BY COUNT(*) DESC, word) AS INT) AS rn
       |  FROM (SELECT lang, unnest($toks) AS word FROM documents)
       |  GROUP BY lang, word)
       |WHERE rn <= 5
       |ORDER BY lang, rn""".stripMargin

  val tfidf: String =
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word),
       |dl AS (SELECT doc_id, COUNT(*) AS m FROM tok GROUP BY doc_id),
       |dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
       |n AS (SELECT COUNT(*) AS n FROM documents)
       |SELECT f.word, CAST(f.df AS BIGINT) AS df,
       |       ROUND(LN((n.n + 1.0) / (f.df + 1.0)), 4) AS idf,
       |       ROUND(MAX((tf.c * 1.0 / dl.m) * LN((n.n + 1.0) / (f.df + 1.0))), 4) AS max_tfidf
       |FROM tf
       |JOIN dl USING (doc_id)
       |JOIN dfreq f ON tf.word = f.word
       |CROSS JOIN n
       |GROUP BY f.word, f.df, n.n
       |ORDER BY f.df DESC, f.word
       |LIMIT 20""".stripMargin

  val boilerplate: String =
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(${shingleHashes("th", 3)})) AS gram
       |  FROM (SELECT doc_id, ${tokenHashes("text")} AS th FROM documents)),
       |boiler AS (SELECT gram FROM (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
       |           WHERE df >= 5)
       |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |       CAST(SUM(CASE WHEN boiler.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_boilerplate,
       |       round(CAST(SUM(CASE WHEN boiler.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / COUNT(*), 4) AS boilerplate_share,
       |       CASE WHEN round(CAST(SUM(CASE WHEN boiler.gram IS NOT NULL THEN 1 ELSE 0 END)
       |              AS DOUBLE) / COUNT(*), 4) > 0.5
       |            THEN 'boilerplate' ELSE 'ok' END AS boilerplate_flag
       |FROM g LEFT JOIN boiler ON g.gram = boiler.gram
       |GROUP BY g.doc_id
       |ORDER BY g.doc_id""".stripMargin

  val chunkWindows: String = {
    val (w, s) = (TextAnalysis.ChunkSize, TextAnalysis.ChunkStride)
    s"""WITH t AS (SELECT doc_id, $toks AS toks, CAST(len($toks) AS BIGINT) AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, toks, n_tokens,
       |        CASE WHEN n_tokens <= $w THEN 1
       |             ELSE 1 + CAST(ceil((n_tokens - $w) / $s.0) AS BIGINT) END AS n_chunks
       |      FROM t),
       |e AS (SELECT doc_id, toks, n_tokens, n_chunks,
       |        unnest(range(0, n_chunks)) AS chunk_id FROM c)
       |SELECT doc_id, chunk_id, n_tokens, n_chunks,
       |       chunk_id * $s AS start_tok,
       |       least($w, n_tokens - chunk_id * $s) AS chunk_len,
       |       ${strHash(s"array_to_string(toks[CAST(chunk_id*$s+1 AS INT):CAST(chunk_id*$s+$w AS INT)], ' ')")}
       |         AS chunk_hash
       |FROM e
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  val globalShuffle: String = {
    val h = strHash("'shuffle:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, shuffle_key,
       |       CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
       |         AS global_order
       |FROM (SELECT doc_id, $h AS shuffle_key FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  val sourceFilter: String = {
    val block = TextAnalysis.SourceBlocklist.map(s => s"'$s'").mkString(", ")
    s"""WITH docs AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens
       |              FROM documents),
       |good AS (SELECT source FROM docs GROUP BY source
       |         HAVING source NOT IN ($block)
       |            AND CAST(SUM(n_tokens) AS BIGINT) >=
       |                ${TextAnalysis.SourceMinAvgTokens} * COUNT(*))
       |SELECT doc_id, source, n_tokens FROM docs
       |WHERE source IN (SELECT source FROM good)
       |ORDER BY doc_id""".stripMargin
  }

  val novelty: String =
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(${shingleHashes("th", 3)})) AS gram
       |  FROM (SELECT doc_id, ${tokenHashes("text")} AS th FROM documents)),
       |first_seen AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
       |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |       CAST(SUM(CASE WHEN g.doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_novel,
       |       round(CAST(SUM(CASE WHEN g.doc_id = first_doc THEN 1 ELSE 0 END)
       |         AS DOUBLE) / COUNT(*), 4) AS novelty_ratio
       |FROM g JOIN first_seen USING (gram)
       |GROUP BY g.doc_id
       |ORDER BY g.doc_id""".stripMargin

  val weightedSample: String = {
    val h = strHash("'wsample:' || CAST(doc_id AS VARCHAR)")
    s"""WITH scored AS (
       |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
       |         ln(($h + 1.0) / (${graft.functions.TextHash.P} + 1.0))
       |           / CAST(len($toks) AS DOUBLE) AS key_raw
       |  FROM documents)
       |SELECT doc_id, n_tokens, round(key_raw, 6) AS sample_key
       |FROM (SELECT * FROM scored
       |      ORDER BY key_raw DESC, doc_id
       |      LIMIT ${TextAnalysis.WeightedSampleK})
       |ORDER BY doc_id""".stripMargin
  }

  val entropy: String =
    s"""WITH counts AS (
       |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest($toks) AS word FROM documents)
       |  GROUP BY doc_id, word),
       |g AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |         CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |         list(c ORDER BY word) AS dist
       |  FROM counts GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_distinct,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(dist, c ->
       |      -(CAST(c AS DOUBLE) / n_tokens) * ln(CAST(c AS DOUBLE) / n_tokens))),
       |    (a, b) -> a + b), 6) AS token_entropy
       |FROM g
       |ORDER BY doc_id""".stripMargin

  /** Same deterministic PII injection as the engine side, then RE2
    * redaction. regexp_replace needs the 'g' flag (DuckDB defaults to
    * first-match; Spark replaces all). */
  val piiRedact: String = {
    val email = TextAnalysis.EmailRe
    val phone = TextAnalysis.PhoneRe
    s"""WITH pii AS (
       |  SELECT doc_id,
       |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |         '@example.com' ||
       |         CASE WHEN doc_id % 3 = 0
       |              THEN ' tel 555-' ||
       |                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |              ELSE '' END AS text
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$email')) AS BIGINT)
       |         AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT)
       |         AS n_phones,
       |       right(regexp_replace(regexp_replace(text, '$email', '<EMAIL>',
       |         'g'), '$phone', '<PHONE>', 'g'), 80) AS redacted_tail
       |FROM pii
       |ORDER BY doc_id""".stripMargin
  }

  val domainCap: String =
    s"""WITH ranked AS (
       |  SELECT source, doc_id,
       |         row_number() OVER (
       |           PARTITION BY source
       |           ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id)
       |           AS rk
       |  FROM documents)
       |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
       |FROM ranked
       |WHERE rk <= ${TextAnalysis.SourceCapN}
       |ORDER BY source, rk""".stripMargin

  val filterFunnel: String = {
    val markers = TextAnalysis.langMarkers.flatMap(_._2)
      .map(m => s"'$m'").mkString(", ")
    val blocked = TextAnalysis.SourceBlocklist
      .map(s => s"'$s'").mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, source, text FROM documents
       |  WHERE doc_id % 25 = 0),
       |d AS (
       |  SELECT doc_id, source, md5(lower(trim(text))) AS fp,
       |         CAST(len($toks) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter($toks, x -> x IN ($markers)))
       |           AS BIGINT) AS marker_hits
       |  FROM corpus),
       |k AS (SELECT fp, MIN(doc_id) AS keep_id FROM d GROUP BY fp),
       |s AS (
       |  SELECT CASE WHEN source IN ($blocked) THEN '1_source_blocked'
       |              WHEN doc_id <> keep_id THEN '2_duplicate'
       |              WHEN marker_hits = 0 THEN '3_lang_unknown'
       |              WHEN n_tokens NOT BETWEEN 20 AND 90 THEN '4_length'
       |              ELSE '5_kept' END AS stage
       |  FROM d JOIN k USING (fp))
       |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       ROUND(CAST(COUNT(*) AS DOUBLE) /
       |             SUM(COUNT(*)) OVER (), 4) AS share
       |FROM s GROUP BY stage
       |ORDER BY stage""".stripMargin
  }

  val vocabCoverage: String =
    s"""WITH counts AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest($toks) AS word FROM documents)
       |  GROUP BY word),
       |top AS (
       |  SELECT word, c,
       |         CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT)
       |           AS rank
       |  FROM counts
       |  ORDER BY c DESC, word LIMIT ${TextAnalysis.VocabSize})
       |SELECT rank, word, c AS n_occurrences,
       |       ROUND(CAST(SUM(c) OVER (ORDER BY rank) AS DOUBLE) /
       |             (SELECT SUM(c) FROM counts), 6) AS cum_coverage
       |FROM top ORDER BY rank""".stripMargin

  /** Heaps-law OLS folded over the decile-sorted point list with
    * sequential list_reduce — the same fixed summation order as the
    * Spark face's `aggregate`, so the ten-point double sums agree. */
  val vocabGrowth: String =
    s"""WITH mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
       |            FROM documents),
       |b AS (
       |  SELECT doc_id,
       |         CASE WHEN hi = lo THEN 10
       |              ELSE LEAST(10, ((doc_id - lo) * 10) // (hi - lo) + 1)
       |         END AS d,
       |         ${tokenHashes("text")} AS toks
       |  FROM documents, mm),
       |dh AS (SELECT d, CAST(count(*) AS BIGINT) AS nd,
       |              CAST(sum(len(toks)) AS BIGINT) AS nt
       |       FROM b GROUP BY d),
       |vh AS (SELECT d, CAST(count(*) AS BIGINT) AS nv FROM (
       |         SELECT min(d) AS d
       |         FROM (SELECT d, unnest(toks) AS w FROM b) GROUP BY w)
       |       GROUP BY d),
       |hist AS (
       |  SELECT CAST(r.range AS BIGINT) AS d,
       |         coalesce(nd, 0) AS nd, coalesce(nt, 0) AS nt,
       |         coalesce(nv, 0) AS nv
       |  FROM range(1, 11) r
       |  LEFT JOIN dh ON dh.d = r.range LEFT JOIN vh ON vh.d = r.range),
       |cum AS (
       |  SELECT d AS decile,
       |         CAST(sum(nd) OVER w AS BIGINT) AS n_docs_cum,
       |         CAST(sum(nt) OVER w AS BIGINT) AS n_tokens_cum,
       |         CAST(sum(nv) OVER w AS BIGINT) AS vocab_cum
       |  FROM hist
       |  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
       |               AND CURRENT ROW)),
       |pts AS (
       |  SELECT list(ln(CAST(n_tokens_cum AS DOUBLE)) ORDER BY decile)
       |           FILTER (WHERE n_tokens_cum > 0 AND vocab_cum > 0) AS xs,
       |         list(ln(CAST(vocab_cum AS DOUBLE)) ORDER BY decile)
       |           FILTER (WHERE n_tokens_cum > 0 AND vocab_cum > 0) AS ys,
       |         list(ln(CAST(n_tokens_cum AS DOUBLE)) *
       |              ln(CAST(vocab_cum AS DOUBLE)) ORDER BY decile)
       |           FILTER (WHERE n_tokens_cum > 0 AND vocab_cum > 0) AS xys,
       |         list(ln(CAST(n_tokens_cum AS DOUBLE)) *
       |              ln(CAST(n_tokens_cum AS DOUBLE)) ORDER BY decile)
       |           FILTER (WHERE n_tokens_cum > 0 AND vocab_cum > 0) AS xxs
       |  FROM cum),
       |sums AS (
       |  SELECT CAST(len(xs) AS DOUBLE) AS n,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
       |           (s, x) -> s + x) AS sx,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys),
       |           (s, x) -> s + x) AS sy,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xys),
       |           (s, x) -> s + x) AS sxy,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xxs),
       |           (s, x) -> s + x) AS sxx
       |  FROM pts),
       |beta AS (
       |  SELECT CASE WHEN abs(n * sxx - sx * sx) > 1e-12 THEN
       |           round((n * sxy - sx * sy) /
       |                 (n * sxx - sx * sx), 4)
       |         END AS heaps_beta
       |  FROM sums)
       |SELECT c.decile, c.n_docs_cum, c.n_tokens_cum, c.vocab_cum,
       |       b2.heaps_beta
       |FROM cum c, beta b2
       |ORDER BY c.decile""".stripMargin

  val lmScore: String = {
    // n=2 shingle hash at position i, exactly TextHashSql.shingleHashes
    var acc = "CAST(17 AS BIGINT)"
    for (k <- 1 to 2) acc = s"(($acc)*131 + th[CAST(i+$k AS INT)]) % $P"
    s"""WITH t AS (SELECT doc_id, ${tokenHashes("text")} AS th
       |           FROM documents),
       |o AS (
       |  SELECT doc_id,
       |         unnest(CASE WHEN len(th) >= 2 THEN
       |           list_transform(range(0, len(th)-1),
       |             i -> {'bh': $acc, 'uh': th[CAST(i+1 AS INT)]})
       |           ELSE [] END) AS o
       |  FROM t),
       |occ AS (SELECT doc_id, o.bh AS bh, o.uh AS uh FROM o),
       |d AS (SELECT doc_id, bh, uh, CAST(COUNT(*) AS BIGINT) AS k
       |      FROM occ GROUP BY doc_id, bh, uh),
       |m AS (SELECT bh, uh, CAST(SUM(k) AS BIGINT) AS cb
       |      FROM d GROUP BY bh, uh),
       |cu AS (SELECT uh, CAST(SUM(cb) AS BIGINT) AS cu FROM m GROUP BY uh),
       |p AS (
       |  SELECT doc_id, bh, k, CAST(cb AS DOUBLE) / cu AS p
       |  FROM d JOIN m USING (bh, uh) JOIN cu USING (uh)),
       |g AS (
       |  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
       |         list({'k': k, 'p': p} ORDER BY bh, p) AS ps
       |  FROM p GROUP BY doc_id),
       |s AS (
       |  SELECT doc_id, n_bigrams,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(ps, x -> x.k * ln(x.p))), (a, b) -> a + b)
       |           / n_bigrams AS avg_raw
       |  FROM g)
       |SELECT doc_id, n_bigrams, ROUND(avg_raw, 6) AS avg_ln_p,
       |       ROUND(exp(-avg_raw), 4) AS ppl
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** The LOGICAL manifest — the parquet round trip is lossless, so any
    * engine-side divergence (lost/dup rows in the shard sink) turns the
    * count or xor checksum red. */
  val shardManifest: String = {
    val split = strHash("'split:' || CAST(doc_id AS VARCHAR)")
    val shard = strHash("CAST(doc_id AS VARCHAR)")
    val rh = strHash("CAST(doc_id AS VARCHAR) || ':' || text")
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |         CASE WHEN $split % 100 < 80 THEN 'train'
       |              WHEN $split % 100 < 90 THEN 'valid'
       |              ELSE 'test' END AS split,
       |         $shard % ${TextAnalysis.ManifestShards} AS shard,
       |         $rh AS rh
       |  FROM documents)
       |SELECT split, shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       bit_xor(rh) AS content_xor,
       |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
       |FROM d GROUP BY split, shard
       |ORDER BY split, shard""".stripMargin
  }

  /** BM25: literals written as the same arithmetic Scala folds
    * ((1.2 + 1.0), (1.0 - 0.75)) so both engines evaluate identical
    * doubles; the per-(query, doc) sum folds term-sorted. */
  val bm25: String =
    s"""WITH d2 AS MATERIALIZED (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |                 CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / COUNT(*) AS avgdl
       |          FROM d2),
       |tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM d2),
       |qt AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       |       FROM tok GROUP BY term ORDER BY df DESC, term LIMIT 6),
       |q AS (SELECT CAST((row_number() OVER (ORDER BY df DESC, term) - 1) // 2 AS INT) + 1
       |               AS query_id, term, df FROM qt),
       |tf AS (SELECT query_id, q.term AS term, df, doc_id, dl,
       |              CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM tok JOIN q ON tok.term = q.term GROUP BY 1, 2, 3, 4, 5),
       |scored AS (SELECT query_id, term, doc_id,
       |  ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |  (CAST(tf AS DOUBLE) * (1.2 + 1.0) /
       |   (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / avgdl)))
       |    AS s
       |  FROM tf CROSS JOIN stats),
       |folded AS (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), array_agg(s ORDER BY term)),
       |        (a, b) -> a + b), 6) AS score
       |  FROM scored GROUP BY query_id, doc_id)
       |SELECT query_id, doc_id, n_terms_hit, score,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |                               ORDER BY score DESC, doc_id) AS INT) AS rank
       |FROM folded
       |QUALIFY rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** T5 span corruption: zipped unnest for positions, the same lag /
    * running-sum window pair, strings reassembled position-ordered. */
  val spanCorruption: String = {
    val noiseHash = strHash("'sc:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")
    s"""WITH t0 AS MATERIALIZED (
       |  SELECT doc_id, pos, tok, ($noiseHash % 5 = 0) AS noised
       |  FROM (SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS tok
       |        FROM (SELECT doc_id, $toks AS t FROM documents))),
       |r1 AS (SELECT doc_id, pos, tok, noised,
       |         noised AND NOT coalesce(
       |           lag(noised) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
       |           AS run_start
       |       FROM t0),
       |r2 AS (SELECT *, SUM(CASE WHEN run_start THEN 1 ELSE 0 END)
       |         OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       |       FROM r1),
       |pieces AS (SELECT doc_id, pos, noised, run_start,
       |  CASE WHEN NOT noised THEN tok
       |       WHEN run_start THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>'
       |       ELSE NULL END AS in_piece,
       |  CASE WHEN run_start
       |         THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '> ' || tok
       |       WHEN noised THEN tok
       |       ELSE NULL END AS tgt_piece
       |  FROM r2)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN noised THEN 1 ELSE 0 END) AS BIGINT) AS n_noised,
       |  CAST(SUM(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       |  array_to_string(list_filter(array_agg(in_piece ORDER BY pos),
       |    p -> p IS NOT NULL), ' ') AS input_text,
       |  array_to_string(list_filter(array_agg(tgt_piece ORDER BY pos),
       |    p -> p IS NOT NULL), ' ') AS target_text
       |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Logical census of the base table — the engine result arrives through
    * a real JSONL write + explicit-schema read, so equality certifies the
    * hop was lossless. */
  val jsonlRoundtrip: String = {
    val rh = strHash("CAST(doc_id AS VARCHAR) || ':' || text")
    s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       |       bit_xor($rh) AS content_xor
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Wilson interval: identical arithmetic order; sqrt is IEEE-exact in
    * both engines, z² written as the literal product both engines fold. */
  val qualityCi: String = {
    val ctr = "(p + (1.96*1.96)/(2.0*n))"
    val half = "1.96*sqrt(p*(1.0-p)/n + (1.96*1.96)/(4.0*n*n))"
    val den = "(1.0 + (1.96*1.96)/n)"
    s"""WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |             CAST(SUM(CASE WHEN len(toks) BETWEEN 30 AND 60
       |                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |           FROM (SELECT source, $toks AS toks FROM documents)
       |           GROUP BY source),
       |c AS (SELECT source, n_docs, n_pass,
       |        CAST(n_pass AS DOUBLE) / n_docs AS p,
       |        CAST(n_docs AS DOUBLE) AS n FROM s)
       |SELECT source, n_docs, n_pass,
       |  round(p, 6) AS rate,
       |  round(($ctr - $half) / $den, 6) AS wilson_lo,
       |  round(($ctr + $half) / $den, 6) AS wilson_hi,
       |  (($ctr + $half) / $den) < 0.5 AS provably_below_half
       |FROM c ORDER BY source""".stripMargin
  }

  /** Largest-remainder token-budget allocation + hash-priority greedy
    * fill; HUGEINT products mirror the Spark side's DECIMAL(38,0). */
  val tokenBudget: String = {
    val h = strHash("'budget:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT source, doc_id,
       |         CAST(len($toks) AS BIGINT) AS n_tokens, $h AS pri
       |       FROM documents),
       |bysrc AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS m_tokens
       |          FROM d GROUP BY 1),
       |tot AS (SELECT CAST(SUM(m_tokens) AS BIGINT) AS m_total FROM bysrc),
       |alloc AS (SELECT source, m_tokens, (m_total * 6) // 10 AS budget,
       |           CAST((CAST((m_total * 6) // 10 AS HUGEINT) * m_tokens) // m_total
       |             AS BIGINT) AS base,
       |           CAST((CAST((m_total * 6) // 10 AS HUGEINT) * m_tokens) % m_total
       |             AS BIGINT) AS rem
       |          FROM bysrc, tot),
       |q AS (SELECT source, m_tokens,
       |       base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
       |                   <= budget - SUM(base) OVER () THEN 1 ELSE 0 END AS quota
       |      FROM alloc),
       |sel AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_selected,
       |         CAST(SUM(n_tokens) AS BIGINT) AS sel_tokens
       |        FROM (SELECT source, n_tokens,
       |               SUM(n_tokens) OVER (PARTITION BY source
       |                 ORDER BY pri, doc_id) AS cum FROM d) d
       |        JOIN q ON d.source = q.source
       |        WHERE cum <= quota GROUP BY 1)
       |SELECT q.source, m_tokens, CAST(quota AS BIGINT) AS quota,
       |       COALESCE(n_selected, 0) AS n_selected,
       |       COALESCE(sel_tokens, 0) AS sel_tokens,
       |       (COALESCE(sel_tokens, 0) * 1000) // nullif(quota, 0) AS fill_permille
       |FROM q LEFT JOIN sel ON q.source = sel.source
       |ORDER BY q.source""".stripMargin
  }

  /** Integer rank grid + one global quantile list quantized at 1e-4. */
  val quantileNorm: String =
    """WITH d AS (SELECT doc_id, source, n_chars AS score FROM documents),
      |r AS (SELECT doc_id, source, score,
      |       CAST(row_number() OVER (PARTITION BY source
      |         ORDER BY score, doc_id) AS BIGINT) AS rk,
      |       CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns FROM d),
      |g AS (SELECT list_transform(
      |         quantile_cont(score, list_transform(range(0, 1001), i -> i/1000.0)),
      |         c -> floor(c*10000.0 + 0.5)/10000.0) AS cuts FROM d)
      |SELECT doc_id, source, score,
      |  CASE WHEN ns = 1 THEN 500 ELSE ((rk - 1) * 1000) // (ns - 1) END AS q,
      |  cuts[CAST(CASE WHEN ns = 1 THEN 500
      |            ELSE ((rk - 1) * 1000) // (ns - 1) END AS INT) + 1] AS norm_score
      |FROM r, g ORDER BY doc_id""".stripMargin

  val all: Map[String, String] = Map(
    "text_token_budget" -> tokenBudget,
    "text_quantile_norm" -> quantileNorm,
    "text_bm25" -> bm25,
    "text_quality_ci" -> qualityCi,
    "text_jsonl_roundtrip" -> jsonlRoundtrip,
    "text_span_corruption" -> spanCorruption,
    "text_shard_manifest" -> shardManifest,
    "text_lm_score" -> lmScore,
    "text_vocab_coverage" -> vocabCoverage,
    "text_vocab_growth" -> vocabGrowth,
    "text_filter_funnel" -> filterFunnel,
    "text_pii_redact" -> piiRedact,
    "text_domain_cap" -> domainCap,
    "text_entropy" -> entropy,
    "text_weighted_sample" -> weightedSample,
    "text_novelty" -> novelty,
    "text_boilerplate" -> boilerplate,
    "text_chunk_windows" -> chunkWindows,
    "text_global_shuffle" -> globalShuffle,
    "text_source_filter" -> sourceFilter,
    "text_stratified_sample" -> stratifiedSample,
    "text_rare_tokens" -> rareTokens,
    "text_pack_sequences" -> packSequences,
    "text_repetition" -> repetition,
    "text_contamination" -> contamination,
    "text_corpus_build" -> corpusBuild,
    "text_heavy_hitters" -> heavyHitters,
    "text_bpe_merge" -> bpeMerge,
    "text_topk_words" -> topkWords,
    "text_tfidf" -> tfidf,
    "text_mixture_weights" -> mixtureWeights,
    "text_quality_drift" -> qualityDrift,
    "text_padding_waste" -> paddingWaste,
    "text_quality_deciles" -> qualityDeciles,
    "text_split_assign" -> splitAssign,
    "text_hrw_shards" -> hrwShards,
    "text_dsir_importance" -> dsirImportance,
    "text_bpe_train" -> bpeTrain,
    "text_bpe_apply" -> bpeApply,
    "text_bpe_fertility" -> bpeFertility,
    "text_anneal_mix" -> annealMix,
    "text_length_histogram" -> lengthHistogram,
    "text_token_stats" -> tokenStats,
    "text_quality" -> quality,
    "text_lang_id" -> langId,
    "text_lang_confusion" -> langConfusion,
    "text_seqlen_quantiles" -> seqLenQuantiles,
    "text_dup_ngram_coverage" -> dupNgramCoverage,
    "text_temperature_shares" -> temperatureShares,
    "text_fingerprint" -> fingerprint,
    "text_bpe_pretokens" -> bpeTokens)
}
