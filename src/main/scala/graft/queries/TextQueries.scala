package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{PolyHash, TopKSketch}
import graft.operators.TextOps
import QueryDef.table

/** Text-analysis operators over the `documents` table — token counting,
  * quality scoring, language ID, fingerprinting. All pure codegen'd
  * Column expressions (no UDFs), each with an exact-integer DuckDB
  * oracle mirroring the same arithmetic.
  */
object TextQueries {

  /** Count-Min geometry (t7): d independent polynomial hashes (distinct
    * bases, one shared prime modulus) over w buckets — interpolated
    * into BOTH engines so the sketch cells match bit-for-bit.
    */
  private val CmsW = 1024
  private val CmsBases = Seq(31, 37, 41, 43)

  /** The ONE DuckDB rendering of [[TextOps.langId]] — CTE chain
    * `t`,`sc` (stopword scores) + the argmax CASE, shared by the t3
    * and t44 oracles so a wordlist change cannot desynchronize them.
    */
  /** The ONE rendering of the t20 hashed-linear-model scoring chain
    * (`w/uni/bi/feats/wt/fb` CTEs — features, weight table, bucketed
    * features), shared by the t20 and t51 oracles so a model-geometry
    * change cannot desynchronize them.
    */
  private def qualityModelCtes: String =
    s"""w AS (SELECT doc_id, string_split(coalesce(text,''),' ') AS w
       |           FROM documents),
       |uni AS (SELECT doc_id, unnest(w) AS f FROM w),
       |bi AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS f
       |       FROM w, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
       |feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
       |wt AS (SELECT CAST(b AS BIGINT) AS bucket,
       |         CAST(${QueryDef.knuthMixSql("b")} % 2001 - 1000 AS BIGINT) AS wgt
       |       FROM range(0, 4096) t(b)),
       |fb AS (SELECT doc_id, ${QueryDef.polyHashSql("f")} % 4096 AS bucket
       |       FROM feats)""".stripMargin

  private def langIdScoreCtes(src: String = "documents"): String =
    s"""t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM $src),
       |     sc AS (
       |  SELECT doc_id, lang,
       |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it'))) AS s_en,
       |    len(list_filter(w, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
       |    len(list_filter(w, x -> x IN ('le','la','de','et','est','un','une','dans'))) AS s_fr
       |  FROM t)""".stripMargin

  private val langIdPredSql =
    """CASE WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
      |       WHEN s_de > s_en THEN 'de' ELSE 'en' END""".stripMargin

  /** The winnowing fingerprint table (doc_id, n_grams, fp_hash, fp_pos)
    * — the ONE Spark rendering shared by t36's per-doc report and
    * d24's fingerprint-pair join (a geometry change cannot
    * desynchronize them). See t36 for the algorithm notes.
    */
  private[queries] def winnowFps(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    // staged WITH lineage truncation (r14): t36 consumes this once and
    // t38's pair self-join TWICE — unstaged, the ngram explode + the
    // per-doc winnowing window ran three times per pass. The
    // fingerprint table is the contracted output (≈ grams/W rows),
    // exactly what a production winnower would materialize.
    Staged.checkpointed(s, s"winnowfp:$dir")(winnowFpsBuild(s, dir))

  private def winnowFpsBuild(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    val W = 4 // hashes per winnowing window
    val P = 1048576L // pos encoding radix (2^20)
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(0, W - 1)
    val grams = table(s, dir, "documents")
      .select(col("doc_id"), TextOps.ngrams(col("text"), 5).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        posexplode(col("grams")).as(Seq("pos", "g")))
    grams
      .withColumn("key",
        PolyHash.col(col("g")) * P + (lit(P - 1) - col("pos")))
      .withColumn("mkey", min("key").over(wspec))
      .withColumn("wcnt", count(lit(1)).over(wspec))
      .filter(col("wcnt") === W)
      .select(col("doc_id"), col("n_grams"),
        expr(s"mkey DIV $P").as("fp_hash"),
        (lit(P - 1) - pmod(col("mkey"), lit(P))).as("fp_pos"))
      .distinct()
  }

  /** The ONE DuckDB rendering of [[winnowFps]] (CTE chain ending in
    * `fp` with (doc_id, n_grams, fp_hash, fp_pos)).
    */
  private def winnowCtes: String =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents),
       |gr AS (SELECT doc_id, len(w) - 4 AS n_grams, i - 1 AS pos,
       |    array_to_string(w[i:i+4], ' ') AS g
       |  FROM words, UNNEST(range(1, len(w) - 3)) AS t(i)),
       |k AS (SELECT doc_id, n_grams, pos,
       |    CAST(${QueryDef.polyHashSql("g")} AS BIGINT) * 1048576
       |      + (1048575 - pos) AS key
       |  FROM gr),
       |wnd AS (SELECT doc_id, n_grams,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mkey,
       |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wcnt
       |  FROM k),
       |fp AS (SELECT DISTINCT doc_id, n_grams, mkey // 1048576 AS fp_hash,
       |    1048575 - mkey % 1048576 AS fp_pos
       |  FROM wnd WHERE wcnt = 4)""".stripMargin

  /** DuckDB CTE chain replaying `rounds` BPE merge rounds over the
    * corpus vocab — the ONE SQL rendering of
    * [[graft.operators.Bpe.train]]'s loop (pair counts from the
    * delimited seg string, (cnt DESC, lhs, rhs) argmax, anchored
    * string-replace merge). `s$rounds` is the final segmentation;
    * each `b$r` holds round r's winning pair (empty when the vocab
    * ran out of pairs — the LEFT JOIN + chr(1) sentinel makes that
    * round a no-op instead of annihilating the vocab).
    */
  private def bpeRoundsSql(rounds: Int): String = {
    val blocks = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT li[i] AS a, li[i + 1] AS b, sum(freq) AS cnt
         |  FROM (SELECT freq, list_filter(string_split(seg, '|'),
         |          x -> len(x) > 0) AS li FROM s${r - 1}),
         |    UNNEST(range(1, len(li))) AS t(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |s$r AS (
         |  SELECT word, freq,
         |    replace(seg,
         |      coalesce('|' || bb.a || '||' || bb.b || '|', chr(1)),
         |      coalesce('|' || bb.a || bb.b || '|', chr(1))) AS seg
         |  FROM s${r - 1} LEFT JOIN b$r bb ON TRUE)""".stripMargin
    }
    s"""vocab AS (
       |  SELECT t.w AS word, count(*) AS freq
       |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       |    UNNEST(ws) AS t(w)
       |  GROUP BY 1),
       |s0 AS (
       |  SELECT word, freq,
       |    '|' || array_to_string(string_split(word, ''), '||') || '|' AS seg
       |  FROM vocab),
       |${blocks.mkString(",\n")}""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // whitespace + regex-run token counting
    "t1_token_count" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws_tokens"),
          TextOps.regexTokenCount(col("text")).as("n_alnum_tokens")),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             |  CAST(len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
             |    x -> len(x) > 0)) AS BIGINT) AS n_alnum_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // C4-style quality signals, integer-encoded
    "t2_quality_score" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.stopwordPermille(col("text")).as("stop_permille"),
          TextOps.meanWordLenCenti(col("text")).as("wlen_centi"),
          TextOps.punctPermille(col("text")).as("punct_permille"),
          when(TextOps.qualityPass(col("text"), col("n_chars")), 1L).otherwise(0L).as("pass")),
      Some("""WITH t AS (
             |  SELECT doc_id, n_chars, text, string_split(text, ' ') AS w FROM documents)
             |SELECT doc_id, n_chars,
             |  CAST(len(w) AS BIGINT) AS n_tokens,
             |  CAST(floor(1000.0 * len(list_filter(w, x -> x IN
             |    ('the','a','of','and','to','in','is','it'))) / len(w)) AS BIGINT) AS stop_permille,
             |  CAST(floor(100.0 * list_reduce(list_transform(w, x -> len(x)), (a,b) -> a+b)
             |    / len(w)) AS BIGINT) AS wlen_centi,
             |  CAST(floor(1000.0 * (length(text) -
             |    length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))) / length(text))
             |    AS BIGINT) AS punct_permille,
             |  CAST(CASE WHEN n_chars >= 100 AND n_chars <= 20000 AND len(w) >= 20
             |    AND floor(1000.0 * len(list_filter(w, x -> x IN
             |      ('the','a','of','and','to','in','is','it'))) / len(w)) >= 10
             |    THEN 1 ELSE 0 END AS BIGINT) AS pass
             |FROM t ORDER BY doc_id""".stripMargin)),

    // END-TO-END C4-style cleaning pipeline: quality filter → langid
    // filter → exact dedup (keep min doc_id per text) → corpus stats.
    // The "switch your whole pipeline to this engine" demonstration:
    // every stage is the registered operator itself, chained; one scan,
    // narrow filters, one dedup shuffle on the content hash, one tiny
    // final aggregate.
    "t5_pipeline_e2e" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val cleaned = docs
          .filter(TextOps.qualityPass(col("text"), col("n_chars")))
          .filter(TextOps.langId(col("text")) === "en")
        val survivors = graft.operators.Dedup.exactSurvivors(
          cleaned, "text", "doc_id")
        cleaned.join(survivors, "doc_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text"))).as("n_tokens"),
            sum(col("n_chars").cast("long")).as("n_chars_total"),
            min("doc_id").as("first_doc"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, n_chars, text, string_split(text, ' ') AS w FROM documents),
             |q AS (SELECT * FROM t
             |  WHERE n_chars >= 100 AND n_chars <= 20000 AND len(w) >= 20
             |    AND floor(1000.0 * len(list_filter(w, x -> x IN
             |      ('the','a','of','and','to','in','is','it'))) / len(w)) >= 10),
             |lang AS (SELECT *,
             |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it'))) AS s_en,
             |    len(list_filter(w, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
             |    len(list_filter(w, x -> x IN ('le','la','de','et','est','un','une','dans'))) AS s_fr
             |  FROM q),
             |-- argmax with first-wins ties: 'en' wins iff neither later
             |-- profile strictly beats it
             |en AS (SELECT * FROM lang WHERE s_de <= s_en AND s_fr <= s_en),
             |surv AS (SELECT min(doc_id) AS doc_id FROM en GROUP BY text)
             |SELECT count(*) AS n_docs,
             |  CAST(sum(len(w)) AS BIGINT) AS n_tokens,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
             |  min(e.doc_id) AS first_doc
             |FROM en e JOIN surv USING (doc_id)""".stripMargin)),

    // stopword-profile language ID (argmax, first-wins ties)
    "t3_langid" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.langId(col("text")).as("pred_lang"))
        .withColumn("is_match", when(col("lang") === col("pred_lang"), 1L).otherwise(0L)),
      Some(s"""WITH ${langIdScoreCtes()}
             |SELECT doc_id, lang,
             |  $langIdPredSql AS pred_lang,
             |  CAST(CASE WHEN lang = ($langIdPredSql) THEN 1 ELSE 0 END
             |    AS BIGINT) AS is_match
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // TF-IDF keyword extraction: top-3 terms per doc by a BM25-style
    // RATIONAL idf — weight = tf · (2N − 2df + 1)/(2df + 1), the
    // log-free Robertson idf surrogate — so the score is exact integer
    // arithmetic on both engines (no ln, no float divergence). Scale
    // shape: tf and df are two map-side-combining aggs shuffled on
    // (doc, term)/(term); N joins in as a broadcast 1-row aggregate
    // (no driver count); the final top-3 window partitions by doc with
    // per-group size bounded by doc length.
    "t6_tfidf_topterms" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Staged.docTerms(s, dir)
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val ndocs = table(s, dir, "documents").agg(count(lit(1)).as("__N"))
        val scored = tf.join(dfreq, "term").crossJoin(broadcast(ndocs))
          .withColumn("score_micro",
            expr("CAST((1000000 * tf * (2*__N - 2*df + 1)) DIV (2*df + 1) AS BIGINT)"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score_micro").desc, col("term"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn").cast("long").as("rn"),
            col("term"), col("score_micro"))
          .orderBy("doc_id", "rn")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf
             |  FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS nd FROM documents),
             |sc AS (SELECT tf.doc_id, tf.term,
             |    (1000000 * tf.tf * (2*n.nd - 2*dfreq.df + 1)) // (2*dfreq.df + 1) AS score_micro
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
             |r AS (SELECT doc_id, term, score_micro,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, term) AS rn
             |  FROM sc)
             |SELECT doc_id, CAST(rn AS BIGINT) AS rn, term, score_micro
             |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    // Count-Min sketch heavy hitters: estimate term frequencies from a
    // d×w integer cell grid and compare against the exact counts for
    // the top-20 terms. The sketch build is the 100 TB shape — per
    // occurrence emit d (row, bucket) pairs, ONE map-side-combining
    // aggregate collapses them to ≤ d·w cells per partition before the
    // shuffle, so the exchange is O(d·w) per partition regardless of
    // corpus size. Every hash is the engine-portable polynomial (d
    // distinct bases), so the DuckDB oracle rebuilds the identical
    // sketch: est ≥ true always, overestimates only from collisions.
    "t7_cms_heavy_hitters" -> QueryDef(
      (s, dir) => {
        val toks = Staged.docTerms(s, dir).select("term")
        // probe-side bucket exprs; the CELL build is delegated to the
        // ONE rendering shared with the streaming sketch path
        // (SketchState.cmsCells) — this oracle predates the extraction
        // and pins it bit-for-bit
        def bucketExprs = array(CmsBases.map(b =>
          pmod(PolyHash.col(col("term"), b.toLong),
            lit(CmsW.toLong))): _*)
        val cells = graft.operators.SketchState.cmsCells(
          toks, "term", CmsBases, CmsW)
        val top = toks.groupBy("term").agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("term")).limit(20)
        val candR = top.select(col("term"), col("true_cnt"), posexplode(bucketExprs))
          .toDF("term", "true_cnt", "r", "bucket")
        candR.join(cells, Seq("r", "bucket"))
          .groupBy("term", "true_cnt").agg(min("c").as("est_cnt"))
          .orderBy(col("true_cnt").desc, col("term"))
      },
      Some {
        def bucketSql(b: Int) = s"${QueryDef.polyHashSql("term", b)} % $CmsW"
        val cellSrc = CmsBases.zipWithIndex.map { case (b, r) =>
          s"SELECT $r AS r, ${bucketSql(b)} AS bucket FROM tk" }.mkString("\n  UNION ALL ")
        val candSrc = CmsBases.zipWithIndex.map { case (b, r) =>
          s"SELECT term, true_cnt, $r AS r, ${bucketSql(b)} AS bucket FROM top" }
          .mkString("\n  UNION ALL ")
        s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
           |tk AS (SELECT term FROM toks WHERE len(term) > 0),
           |cellsrc AS (
           |  $cellSrc),
           |cells AS (SELECT r, bucket, count(*) AS c FROM cellsrc GROUP BY 1, 2),
           |top AS (SELECT term, count(*) AS true_cnt FROM tk GROUP BY 1
           |  ORDER BY true_cnt DESC, term LIMIT 20),
           |candr AS (
           |  $candSrc)
           |SELECT term, CAST(true_cnt AS BIGINT) AS true_cnt,
           |  CAST(min(c) AS BIGINT) AS est_cnt
           |FROM candr JOIN cells USING (r, bucket)
           |GROUP BY term, true_cnt ORDER BY true_cnt DESC, term""".stripMargin
      }),

    // Gopher-style repetition quality signals: fraction of tokens under
    // the single most frequent 2-gram + fraction of 5-gram occurrences
    // that are duplicates. Scale shape: occurrence-preserving n-grams
    // explode into a (doc, gram) count — map-side combining, keyed by
    // (doc, gram) so per-key volume is bounded by document length —
    // then a per-doc rollup; the O(len^2) per-row higher-order-function
    // alternative would melt on million-word documents. Exact integer
    // permilles (DIV) on both engines.
    "t8_repetition_signals" -> QueryDef(
      (s, dir) => {
        // One explode+agg pass PER gram size, joined on doc_id.
        // Measured alternative (rejected): tagging both gram sizes into
        // one struct explode to share the scan ran 2.2x SLOWER at sf0.1
        // (struct-array explode costs more than the second columnar
        // scan saves); at 100 TB the shared-scan form is a staging
        // decision (materialize the corpus scan once), not a reason to
        // pay struct explode in the hot path.
        val docs = table(s, dir, "documents")
        def gramCounts(n: Int) = docs
          .select(col("doc_id"), explode(TextOps.ngrams(col("text"), n)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        val a2 = gramCounts(2).groupBy("doc_id")
          .agg(sum("c").as("n2"), max("c").as("top2"))
        val a5 = gramCounts(5).groupBy("doc_id")
          .agg(sum("c").as("n5"),
            sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup5"))
        // inner join: docs under 5 words have no 5-grams and drop out
        // (none at these SFs; the oracle joins identically)
        a2.join(a5, "doc_id")
          .select(col("doc_id"),
            expr("CAST((1000 * top2) DIV n2 AS BIGINT)").as("top2_permille"),
            expr("CAST((1000 * dup5) DIV n5 AS BIGINT)").as("dup5_permille"),
            col("n2").cast("long").as("n2"), col("n5").cast("long").as("n5"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             |g2 AS (SELECT doc_id, array_to_string(w[i:i+1],' ') AS g
             |       FROM w, unnest(range(1, len(w))) AS t(i)),
             |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1,2),
             |a2 AS (SELECT doc_id, sum(c) AS n2, max(c) AS top2 FROM c2 GROUP BY 1),
             |g5 AS (SELECT doc_id, array_to_string(w[i:i+4],' ') AS g
             |       FROM w, unnest(range(1, len(w)-3)) AS t(i)),
             |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1,2),
             |a5 AS (SELECT doc_id, sum(c) AS n5,
             |       sum(CASE WHEN c>1 THEN c ELSE 0 END) AS dup5 FROM c5 GROUP BY 1)
             |SELECT doc_id,
             |  CAST((1000*top2) // n2 AS BIGINT) AS top2_permille,
             |  CAST((1000*dup5) // n5 AS BIGINT) AS dup5_permille,
             |  CAST(n2 AS BIGINT) AS n2, CAST(n5 AS BIGINT) AS n5
             |FROM a2 JOIN a5 USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // PII detection + redaction. The synthetic corpus contains no PII,
    // so each engine deterministically injects identical email/IP/digit
    // tokens into 2/3 of the docs (keyed by doc_id), then counts and
    // redacts them — the regexes and replacement run for real on text
    // that actually contains matches. Pure scan-side projection: no
    // shuffle, whole-stage codegen, patterns chosen to behave
    // identically under Java regex and DuckDB's RE2.
    "t9_pii_scrub" -> QueryDef(
      (s, dir) => {
        // the injected digit run squares doc_id REDUCED mod 1e6: ids at
        // corpus scale are arbitrary 64-bit (sf1's key-shifted ids hit
        // 9e9, whose square overflows Long — caught by the sf1 bench),
        // and (id % 1e6)² <= 1e12 is overflow-safe for any corpus size
        val codeBase = col("doc_id") % 1000000L
        val itext = when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@mail.example.com ip 10.0."),
            (col("doc_id") % 250).cast("string"), lit(".7 code "),
            (codeBase * codeBase).cast("string")))
        table(s, dir, "documents")
          .select(col("doc_id"), itext.as("itext"))
          .select(col("doc_id"),
            TextOps.countMatches(col("itext"), TextOps.EmailRe).as("email_n"),
            TextOps.countMatches(col("itext"), TextOps.Ipv4Re).as("ip_n"),
            TextOps.countMatches(col("itext"), TextOps.DigitRunRe).as("digitrun_n"),
            TextOps.redactPii(col("itext")).as("redacted"))
        // NO global orderBy: the output carries the full redacted
        // text, so a global sort range-samples (re-executing the
        // regex-heavy child) and shuffles every document body — the
        // round-8 "12.6x at sf1" flag was exactly that overhead. The
        // gate compare canonicalizes row order; scrubbing has no
        // ordering contract.
      },
      // ONE SQL rendering: the oracle interpolates the very same
      // TextOps regex constants the engine compiles (they are chosen to
      // be Java-regex/RE2 identical), so a pattern tweak can never
      // desynchronize the two sides — same convention as knuthMixSql.
      Some(s"""WITH inj AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0 THEN text
             |         ELSE text || ' contact user' || doc_id || '@mail.example.com ip 10.0.'
             |              || (doc_id % 250) || '.7 code '
             |              || ((doc_id % 1000000)*(doc_id % 1000000)) END AS itext
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(itext, '${TextOps.EmailRe}')) AS BIGINT) AS email_n,
             |  CAST(len(regexp_extract_all(itext, '${TextOps.Ipv4Re}')) AS BIGINT) AS ip_n,
             |  CAST(len(regexp_extract_all(itext, '${TextOps.DigitRunRe}')) AS BIGINT) AS digitrun_n,
             |  regexp_replace(regexp_replace(itext,
             |    '${TextOps.EmailRe}', '<EMAIL>', 'g'),
             |    '${TextOps.Ipv4Re}', '<IP>', 'g') AS redacted
             |FROM inj""".stripMargin)),

    // Per-domain URL statistics — the input signal for domain-level
    // corpus filtering (blocklists, per-domain quotas à la CCNet /
    // RefinedWeb). The synthetic corpus contains no URLs, so both
    // engines inject identical deterministic URLs into 2/3 of the docs
    // (same convention as t9), then extract → domain → aggregate.
    // Scale shape: regex extraction is scan-side codegen; explode emits
    // ~2 rows/doc; the domain aggregate map-side combines. The exact
    // count_distinct(doc_id) shuffles (domain, doc_id) pairs — at
    // 100 TB swap it for approx_count_distinct (q24/q37 family) if
    // per-domain doc counts can tolerate ±2%.
    "t13_url_stats" -> QueryDef(
      (s, dir) => {
        val itext = when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"),
            lit(" see https://w"), (col("doc_id") % 4).cast("string"),
            lit(".site"), (col("doc_id") % 20).cast("string"),
            lit(".org/p"), (col("doc_id") % 7).cast("string"),
            lit(" or http://cdn.ref"), (col("doc_id") % 5).cast("string"),
            lit(".net/x")))
        table(s, dir, "documents")
          .select(col("doc_id"), explode(TextOps.urls(itext)).as("url"))
          .select(col("doc_id"), TextOps.urlDomain(col("url")).as("domain"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("domain")
      },
      // ONE SQL rendering: interpolates the SAME TextOps regex
      // constants the engine compiles (t9 convention)
      Some(s"""WITH inj AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0 THEN text
             |         ELSE text || ' see https://w' || (doc_id % 4) || '.site'
             |              || (doc_id % 20) || '.org/p' || (doc_id % 7)
             |              || ' or http://cdn.ref' || (doc_id % 5) || '.net/x'
             |    END AS itext FROM documents),
             |u AS (SELECT doc_id, unnest(regexp_extract_all(itext, '${TextOps.UrlRe}')) AS url
             |      FROM inj),
             |d AS (SELECT doc_id,
             |        CASE WHEN len(p) >= 2 THEN p[-2] || '.' || p[-1] ELSE h END AS domain
             |      FROM (SELECT doc_id, regexp_extract(url, '${TextOps.HostRe}', 1) AS h,
             |              string_split(regexp_extract(url, '${TextOps.HostRe}', 1), '.') AS p
             |            FROM u))
             |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Domain-blocklist filter audit — t13's enforcement companion: the
    // (doc, domain) pairs a blocklist would drop. The membership test
    // runs scan-side against a literal list (the realistic manual-
    // blocklist size; a crawl-scale blocklist swaps isInCollection for
    // a broadcast semi-join — same d8 broadcast shape), so the filter
    // costs one codegen'd projection and the only exchange is the
    // final distinct on the tiny dropped set.
    "t14_domain_blocklist" -> QueryDef(
      (s, dir) => {
        val blocklist = Seq("site3.org", "site15.org", "ref2.net")
        val itext = when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"),
            lit(" see https://w"), (col("doc_id") % 4).cast("string"),
            lit(".site"), (col("doc_id") % 20).cast("string"),
            lit(".org/p"), (col("doc_id") % 7).cast("string"),
            lit(" or http://cdn.ref"), (col("doc_id") % 5).cast("string"),
            lit(".net/x")))
        table(s, dir, "documents")
          .select(col("doc_id"), explode(TextOps.urls(itext)).as("url"))
          .select(col("doc_id"), TextOps.urlDomain(col("url")).as("domain"))
          .filter(col("domain").isInCollection(blocklist))
          .distinct()
          .orderBy("doc_id", "domain")
      },
      Some(s"""WITH inj AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0 THEN text
             |         ELSE text || ' see https://w' || (doc_id % 4) || '.site'
             |              || (doc_id % 20) || '.org/p' || (doc_id % 7)
             |              || ' or http://cdn.ref' || (doc_id % 5) || '.net/x'
             |    END AS itext FROM documents),
             |u AS (SELECT doc_id, unnest(regexp_extract_all(itext, '${TextOps.UrlRe}')) AS url
             |      FROM inj),
             |d AS (SELECT doc_id,
             |        CASE WHEN len(p) >= 2 THEN p[-2] || '.' || p[-1] ELSE h END AS domain
             |      FROM (SELECT doc_id, regexp_extract(url, '${TextOps.HostRe}', 1) AS h,
             |              string_split(regexp_extract(url, '${TextOps.HostRe}', 1), '.') AS p
             |            FROM u))
             |SELECT DISTINCT doc_id, domain FROM d
             |WHERE domain IN ('site3.org', 'site15.org', 'ref2.net')
             |ORDER BY doc_id, domain""".stripMargin)),

    // Domain link centrality — PageRank-style prior for corpus curation
    // (weight crawl data by citation structure). Edge list from the
    // t13/t14 injected links: owner domain site{id%7}.org cites the
    // extracted registrable domains (self-loops dropped). Two exact
    // integer fixed-point iterations (operators/GraphRank.scala), so
    // the unrolled SQL oracle reproduces the ranks bit-for-bit.
    "t15_domain_rank" -> QueryDef(
      (s, dir) => {
        val itext = when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"),
            lit(" see https://w"), (col("doc_id") % 4).cast("string"),
            lit(".site"), (col("doc_id") % 20).cast("string"),
            lit(".org/p"), (col("doc_id") % 7).cast("string"),
            lit(" or http://cdn.ref"), (col("doc_id") % 5).cast("string"),
            lit(".net/x")))
        val own = concat(lit("site"), (col("doc_id") % 7).cast("string"), lit(".org"))
        val edges = table(s, dir, "documents")
          .select(col("doc_id"), own.as("src"), explode(TextOps.urls(itext)).as("url"))
          .select(col("src"), TextOps.urlDomain(col("url")).as("dst"))
          .filter(col("src") =!= col("dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        graft.operators.GraphRank.pageRankInt(edges, "src", "dst", "w", iters = 2)
          .select(col("node").as("domain"), col("rank"))
          .orderBy("domain")
      },
      Some {
        def iter(i: Int): String = {
          val (r0, c1, r1) = (s"r$i", s"c${i + 1}", s"r${i + 1}")
          s"""$c1 AS (SELECT e.dst AS node,
             |    sum((85 * r.rank * e.w) // (100 * ow.outw)) AS c
             |  FROM e JOIN $r0 r ON r.node = e.src JOIN ow ON ow.src = e.src
             |  GROUP BY 1),
             |$r1 AS (SELECT nodes.node,
             |    (SELECT (15 * 1000000) // (100 * n) FROM nn) + coalesce($c1.c, 0) AS rank
             |  FROM nodes LEFT JOIN $c1 USING (node))""".stripMargin
        }
        s"""WITH inj AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN text
           |         ELSE text || ' see https://w' || (doc_id % 4) || '.site'
           |              || (doc_id % 20) || '.org/p' || (doc_id % 7)
           |              || ' or http://cdn.ref' || (doc_id % 5) || '.net/x'
           |    END AS itext FROM documents),
           |u AS (SELECT doc_id, unnest(regexp_extract_all(itext, '${TextOps.UrlRe}')) AS url
           |      FROM inj),
           |d AS (SELECT doc_id,
           |        CASE WHEN len(p) >= 2 THEN p[-2] || '.' || p[-1] ELSE h END AS dst
           |      FROM (SELECT doc_id, regexp_extract(url, '${TextOps.HostRe}', 1) AS h,
           |              string_split(regexp_extract(url, '${TextOps.HostRe}', 1), '.') AS p
           |            FROM u)),
           |e AS (SELECT 'site' || (doc_id % 7) || '.org' AS src, dst,
           |        CAST(count(*) AS BIGINT) AS w
           |      FROM d WHERE dst <> 'site' || (doc_id % 7) || '.org' GROUP BY 1, 2),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
           |r0 AS (SELECT node, (SELECT 1000000 // n FROM nn) AS rank FROM nodes),
           |${iter(0)},
           |${iter(1)}
           |SELECT node AS domain, CAST(rank AS BIGINT) AS rank
           |FROM r2 ORDER BY domain""".stripMargin
      }),

    // Canonical text normalization + dedup on the normal form: lower,
    // strip non-alphanumerics, collapse whitespace — the preprocessor
    // that turns case/punctuation variants of one document into exact
    // duplicates. Fixture injects a noisy twin (uppercase + punct) for
    // every 5th doc; survivors are the original ids. Normalization is
    // scan-side codegen'd string ops; the dedup shuffles hashes of the
    // NORMAL form only.
    "t18_normalize_dedup" -> QueryDef(
      (s, dir) => {
        def norm(c: org.apache.spark.sql.Column) =
          trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))
        val docs = table(s, dir, "documents")
        val noisy = docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 50000).as("doc_id"),
            concat(upper(col("text")), lit(" !!")).as("text"))
        val all = docs.select(col("doc_id"), col("text")).unionByName(noisy)
        graft.operators.Dedup.exactSurvivors(
          all.withColumn("text", norm(col("text"))), "text", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 50000, upper(text) || ' !!' FROM documents
             |  WHERE doc_id % 5 = 0),
             |normed AS (
             |  SELECT doc_id,
             |    trim(regexp_replace(regexp_replace(lower(text),
             |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
             |  FROM all_docs)
             |SELECT min(doc_id) AS doc_id FROM normed GROUP BY ntext
             |ORDER BY 1""".stripMargin)),

    // EXACT per-group quantiles from a value histogram — the corpus
    // length-distribution report (p50/p90/p99 token count per lang)
    // every curation pass starts from. Scale shape: the ONLY full-data
    // op is a map-side-combining groupBy(lang, n) count; the windows
    // (cumulative + total) then run over the HISTOGRAM — langs ×
    // distinct-lengths rows, dimension-sized — never a distributed
    // sort of raw rows (approx_percentile trades exactness for one
    // pass; the histogram trick keeps both when the value domain is
    // bounded, as token counts are). Nearest-rank definition, integer
    // cross-multiplied: p-quantile = min n with 100·cum ≥ p·total.
    "t19_length_quantiles" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hist = table(s, dir, "documents")
          .select(col("lang"), TextOps.tokenCount(col("text")).as("n"))
          .groupBy("lang", "n").agg(count(lit(1)).as("c"))
        val cum = hist
          .withColumn("cum", sum("c").over(Window.partitionBy("lang")
            .orderBy("n").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("total", sum("c").over(Window.partitionBy("lang")))
        cum.groupBy("lang").agg(
          min(when(col("cum") * 2 >= col("total"), col("n"))).as("p50"),
          min(when(col("cum") * 10 >= col("total") * 9, col("n"))).as("p90"),
          min(when(col("cum") * 100 >= col("total") * 99, col("n"))).as("p99"),
          max("n").as("p100"),
          sum("c").as("n_docs"))
          .orderBy("lang")
      },
      Some("""WITH h AS (
             |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             |    count(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |cum AS (
             |  SELECT lang, n, c,
             |    sum(c) OVER (PARTITION BY lang ORDER BY n
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(c) OVER (PARTITION BY lang) AS total
             |  FROM h)
             |SELECT lang,
             |  CAST(min(CASE WHEN cum * 2 >= total THEN n END) AS BIGINT) AS p50,
             |  CAST(min(CASE WHEN cum * 10 >= total * 9 THEN n END) AS BIGINT) AS p90,
             |  CAST(min(CASE WHEN cum * 100 >= total * 99 THEN n END) AS BIGINT) AS p99,
             |  CAST(max(n) AS BIGINT) AS p100,
             |  CAST(sum(c) AS BIGINT) AS n_docs
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Temperature-based source mixing (the multilingual/multi-source
    // rebalancing rule used by large-LM data pipelines: sample source i
    // with probability ∝ n_i^alpha, alpha = 0.5, so big sources are
    // tempered and small ones boosted): per-source keep-rate
    // ppm_i = floor(1e6·sqrt(n_min/n_i)) — 1.0 for the smallest
    // source, kept mass ∝ sqrt(n_i) — applied as the q38-style
    // deterministic hash threshold. The rate table derives IN-PLAN
    // from a dimension-sized count agg joined back broadcast (no
    // driver collect); sqrt is IEEE-identical on both engines over the
    // same exact-integer ratio.
    "t21_temperature_mix" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        // testdata sources are uniform (nothing to temper) — remap 3/4
        // of the corpus onto one dominant 'web' source so the rule has
        // real skew to rebalance; the oracle mirrors the remap
        val docs = table(s, dir, "documents")
          .withColumn("source",
            when(col("doc_id") % 4 < 3, lit("web")).otherwise(col("source")))
        val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
        val minN = counts.agg(min("n_src").as("n_min"))
        val rates = counts.crossJoin(broadcast(minN))
          .select(col("source"), col("n_src"),
            floor(lit(1e6) * sqrt(col("n_min").cast("double") /
              col("n_src").cast("double"))).cast("long").as("ppm"))
        val hv = KMinAgg.scramble(PolyHash.col(
          col("doc_id").cast("string")))
        docs.select(col("source"), col("doc_id"),
            TextOps.tokenCount(col("text")).as("__tok"))
          .withColumn("__hv", hv)
          .join(broadcast(rates), "source")
          .filter(col("__hv") * 1000000L < col("ppm") * lit(1000000007L))
          .groupBy("source")
          .agg(max("n_src").as("n_src"), max("ppm").as("rate_ppm"),
            count(lit(1)).as("n_kept"), sum("__tok").as("kept_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH counts AS (
             |  SELECT CASE WHEN doc_id % 4 < 3 THEN 'web' ELSE source END AS source,
             |    count(*) AS n_src
             |  FROM documents GROUP BY 1),
             |rates AS (
             |  SELECT source, n_src,
             |    CAST(floor(1e6 * sqrt(CAST((SELECT min(n_src) FROM counts) AS DOUBLE)
             |      / CAST(n_src AS DOUBLE))) AS BIGINT) AS ppm
             |  FROM counts),
             |${QueryDef.scrambledHashCtes(
                 "(SELECT CASE WHEN doc_id % 4 < 3 THEN 'web' ELSE source END " +
                   "AS source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok, " +
                   "CAST(doc_id AS VARCHAR) AS rk FROM documents)",
                 Seq("source", "tok"), "rk")},
             |smp AS (SELECT h.source, h.tok, r.n_src, r.ppm FROM h
             |  JOIN rates r USING (source)
             |  WHERE h.hv * 1000000 < r.ppm * 1000000007)
             |SELECT source, CAST(max(n_src) AS BIGINT) AS n_src,
             |  CAST(max(ppm) AS BIGINT) AS rate_ppm,
             |  CAST(count(*) AS BIGINT) AS n_kept,
             |  CAST(sum(tok) AS BIGINT) AS kept_tokens
             |FROM smp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Model-based quality filtering: fastText-style linear classifier
    // inference over hashed bag-of-ngram features (unigrams + bigrams,
    // occurrence-preserving, poly-hashed into 4096 buckets). The
    // weight table is dimension-sized so it BROADCASTS; inference is
    // explode -> hash -> broadcast join -> one map-side-combining
    // per-doc sum. Deterministic stand-in weights (Knuth mix, range
    // [-1000, 1000]) keep both engines bit-identical; a real trained
    // model drops in as the same (bucket, w) table without changing
    // the plan.
    "t20_quality_classifier" -> QueryDef(
      (s, dir) => {
        graft.operators.QualityModel.score(
          table(s, dir, "documents"), "doc_id", "text",
          graft.operators.QualityModel.syntheticWeights(s, 4096), buckets = 4096)
          .orderBy("doc_id")
      },
      Some(s"""WITH $qualityModelCtes
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             |  CAST(sum(wgt) AS BIGINT) AS score,
             |  CAST(CASE WHEN sum(wgt) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
             |FROM fb JOIN wt USING (bucket)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // LM-fluency proxy score (CCNet-style perplexity filtering without
    // the LM): per-doc mean conditional bigram probability against the
    // corpus's own bigram statistics, in exact integer permille
    // (floor(1000·c(w1,w2)/c(w1,·)), doc score = floor-mean) — log-free
    // like t6's rational idf, so the oracle is exact. Scale shape: one
    // narrow bigram explode, two corpus aggs (bigram/left-word counts,
    // vocabulary-bounded), one join back, one per-doc agg.
    "t17_lm_score" -> QueryDef(
      (s, dir) => {
        val words = table(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val bg = graft.operators.CacheTracker.persist(words.select(col("doc_id"),
          explode(expr(
            "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
            .as("b"))
          .select(col("doc_id"), col("b.w1"), col("b.w2")))
        val cnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
        bg.join(cnt, Seq("w1", "w2")).join(c1, Seq("w1"))
          .withColumn("pm", expr("(1000 * c) div c1"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            expr("sum(pm) div count(1)").as("lm_permille"))
          .orderBy("doc_id")
      },
      Some("""WITH words AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
             |       FROM words, UNNEST(range(1, len(w))) AS t(i)),
             |cnt AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
             |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
             |per AS (SELECT doc_id, (1000 * c) // c1 AS pm
             |        FROM bg JOIN cnt USING (w1, w2) JOIN c1 USING (w1))
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(pm) // count(*) AS BIGINT) AS lm_permille
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Data mixing under a per-source token budget: docs are admitted
    // in deterministic pseudo-random order (Knuth-mix of doc_id) until
    // each source's running token count exceeds the quota — the
    // pipeline op that rebalances source proportions before training.
    // Scale path (r14, was previously documented-only): the survivor
    // set is a PREFIX of each source's (h, doc_id) order, so the
    // weighted cumulative histogram over h (RankStats, bucket-parallel)
    // yields an exact per-source admission cutoff h* = smallest h whose
    // cumulative token mass exceeds the budget; the scan-side filter
    // h <= h* drops everything inadmissible BEFORE the exact running-
    // sum window, which then sorts only the budget-bounded survivor
    // superset — never a per-source sort of the full corpus (the few-
    // huge-sources hot spot at 100 TB).
    "t10_token_budget_mix" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // base feeds TWO consumers (cutoff histogram, final admission)
        // — persist the narrow projection so the corpus is scanned and
        // tokenized once
        val base = graft.operators.CacheTracker.persist(
          table(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              TextOps.tokenCount(col("text")).as("n_tokens"),
              TextOps.knuthMix(col("doc_id")).as("h")))
        // knuthMix's domain is [0, p) by construction — pinned bounds
        // skip the histogram's min/max probe pass
        val hist = graft.operators.RankStats.cumulativeHistogram(
          base, Seq("source"), "h", weightCol = Some("n_tokens"),
          bounds = Some((0L, 1000000006L)))
        val cut = hist.groupBy("source")
          .agg(min(when(col("cum") > 800L, col("h"))).as("hcut"))
        val w = Window.partitionBy("source").orderBy("h", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        base.join(broadcast(cut), Seq("source"))
          .filter(col("hcut").isNull || col("h") <= col("hcut"))
          .withColumn("running", sum("n_tokens").over(w))
          .filter(col("running") <= 800)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("running").cast("long").as("running"))
          .orderBy("source", "running")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |    ${QueryDef.knuthMixSql("doc_id")} AS h FROM documents),
             |r AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running FROM t)
             |SELECT doc_id, source, n_tokens, CAST(running AS BIGINT) AS running
             |FROM r WHERE running <= 800 ORDER BY source, running""".stripMargin)),

    // Sequence packing: assign every doc (in deterministic hash order,
    // per source) to a fixed-token-budget training bin — bin id =
    // tokens-before-this-doc DIV budget, the contiguous-fill rule (a
    // doc straddling a boundary belongs to the bin where it starts, so
    // fill can exceed 1000‰ by at most one doc). Reports per-bin doc
    // count and fill ratio — the packing-efficiency numbers a training
    // job plans around. Scale shape (r14): unlike t10 every doc keeps
    // its bin, so nothing can be pruned — instead the per-source
    // running sum is TWO-LEVEL (RankStats' bucket discipline, applied
    // per row): cumulatives run inside (source, h-bucket) partitions
    // and each bucket adds its offset from the bucket-total spine —
    // sources×4096-way parallelism instead of the |sources|-task
    // ceiling of a bare per-source window over the corpus.
    "t12_sequence_pack" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // knuthMix's domain is [0, p) by construction — fixed geometry
        val width = 1000000007L / 4096 + 1
        // base feeds TWO consumers (bucket spine, final cumulative) —
        // persist the narrow projection; tracked for session release
        val base = graft.operators.CacheTracker.persist(
          table(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              TextOps.tokenCount(col("text")).as("n_tokens"),
              TextOps.knuthMix(col("doc_id")).as("h"))
            .withColumn("bkt", expr(s"h DIV ${width}L")))
        val off = base.groupBy("source", "bkt").agg(sum("n_tokens").as("__btot"))
          .withColumn("__off", coalesce(sum("__btot").over(
            Window.partitionBy("source").orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col("bkt"), col("__off"))
        val wIn = Window.partitionBy("source", "bkt").orderBy("h", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        base.join(broadcast(off), Seq("source", "bkt"))
          .withColumn("cum", col("__off") + sum("n_tokens").over(wIn))
          .select(col("source"),
            expr("CAST((cum - n_tokens) DIV 512 AS BIGINT)").as("bin"),
            col("n_tokens"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"))
          .withColumn("fill_permille",
            expr("CAST((1000 * bin_tokens) DIV 512 AS BIGINT)"))
          .orderBy("source", "bin")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |    ${QueryDef.knuthMixSql("doc_id")} AS h FROM documents),
             |r AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
             |b AS (SELECT source, (cum - n_tokens) // 512 AS bin, n_tokens FROM r)
             |SELECT source, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
             |  CAST((1000 * sum(n_tokens)) // 512 AS BIGINT) AS fill_permille
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Deterministic train/val/test assignment (80/10/10 by the same
    // Knuth-mix hash — reproducible across engines, stable under
    // corpus growth since the split is a pure function of doc_id),
    // reported as per-split per-lang doc and token counts. Scan-side
    // split + one tiny aggregation: the shuffle carries one row per
    // (split, lang) per partition.
    "t11_split_assign" -> QueryDef(
      (s, dir) => {
        val hv = TextOps.knuthMix(col("doc_id"))
        table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).as("n_tokens"),
            when(hv % 10 < 8, "train").when(hv % 10 === 8, "val")
              .otherwise("test").as("split"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH h AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |    ${QueryDef.knuthMixSql("doc_id")} AS hv FROM documents),
             |s AS (SELECT *, CASE WHEN hv % 10 < 8 THEN 'train'
             |                     WHEN hv % 10 = 8 THEN 'val' ELSE 'test' END AS split FROM h)
             |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Leakage-free GROUP split: t11 splits by document hash, which
    // puts near-identical docs from one source on both sides of a
    // train/test boundary (the classic contamination leak). Here the
    // assignment unit is the SOURCE group — every doc of a source
    // lands in the same split (portable poly-hash of the source name
    // → knuth mix → 80/10/10), so intra-source near-dups can never
    // straddle the split. Per-(split, lang) doc/token stats plus the
    // group count; the source column is dimension-sized, so the
    // distinct agg is cheap. Scan-side hash + one map-side agg — the
    // same shuffle shape as t11.
    "t22_group_split" -> QueryDef(
      (s, dir) => {
        val hv = TextOps.knuthMix(PolyHash.col(col("source")))
        table(s, dir, "documents")
          .select(col("lang"), col("source"),
            TextOps.tokenCount(col("text")).as("n_tokens"),
            when(hv % 10 < 8, "train").when(hv % 10 === 8, "val")
              .otherwise("test").as("split"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
            countDistinct("source").as("n_sources"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH h AS (SELECT lang, source,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |    ${QueryDef.knuthMixSql(QueryDef.polyHashSql("source"))} AS hv
             |  FROM documents),
             |s AS (SELECT *, CASE WHEN hv % 10 < 8 THEN 'train'
             |                     WHEN hv % 10 = 8 THEN 'val' ELSE 'test' END AS split
             |      FROM h)
             |SELECT split, lang, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |  count(DISTINCT source) AS n_sources
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // polynomial rolling-hash fingerprint (exact-int, engine-portable).
    // Native codegen'd PolyHash: one O(n) byte pass per doc — the HOF
    // form (per-char substr) rescans the string per character, O(n^2).
    // PMI-style collocation mining (phrase extraction): top bigrams by
    // the exact-integer scaled PMI ratio
    //   score_ppm = ((c_xy * 1e6) DIV c_x * N) DIV c_y
    // (both engines apply the two integer divisions in the SAME order,
    // so the score is reproducible — no logs, no floats). Overflow
    // bound: the first quotient is <= 1e6 (c_xy <= c_x), so the
    // multiply stays under 2^63 for any corpus up to N ~ 9e12 tokens.
    // Shape: occurrence-preserving bigrams via the let-bound ngrams
    // path (one split per row), two map-side-combining count aggs
    // (bigram + unigram), two joins keyed on the vocab-sized token
    // tables, and a TakeOrderedAndProject top-50 — no global sort
    // materializes the vocab.
    "t23_collocations" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val uni = docs.select(explode(TextOps.words(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val n = uni.agg(sum("c").cast("long").as("n_total"))
        val bi = docs.select(explode(TextOps.ngrams(col("text"), 2)).as("bg"))
          .groupBy("bg").agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 5)
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .withColumn("w2", split(col("bg"), " ").getItem(1))
        bi.join(uni.withColumnRenamed("tok", "w1").withColumnRenamed("c", "c_x"), "w1")
          .join(uni.withColumnRenamed("tok", "w2").withColumnRenamed("c", "c_y"), "w2")
          .crossJoin(broadcast(n))
          .select(col("bg"), col("c_xy"), col("c_x"), col("c_y"),
            expr("CAST((c_xy * 1000000 DIV c_x * n_total) DIV c_y AS BIGINT)")
              .as("score_ppm"))
          .orderBy(col("score_ppm").desc, col("c_xy").desc, col("bg"))
          .limit(50)
      },
      Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents),
             |uni AS (
             |  SELECT t.tok, count(*) AS c
             |  FROM words, UNNEST(w) AS t(tok) GROUP BY 1),
             |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
             |bi AS (
             |  SELECT array_to_string(w[i:i+1], ' ') AS bg, count(*) AS c_xy
             |  FROM words, UNNEST(range(1, len(w))) AS t(i)
             |  GROUP BY 1 HAVING count(*) >= 5)
             |SELECT bg, bi.c_xy AS c_xy, x.c AS c_x, y.c AS c_y,
             |  CAST((bi.c_xy * 1000000 // x.c * n.n_total) // y.c AS BIGINT)
             |    AS score_ppm
             |FROM bi
             |JOIN uni x ON x.tok = string_split(bg, ' ')[1]
             |JOIN uni y ON y.tok = string_split(bg, ' ')[2]
             |CROSS JOIN n
             |ORDER BY score_ppm DESC, c_xy DESC, bg LIMIT 50""".stripMargin)),

    // RAG chunking: overlapping fixed-token windows (32 tokens, stride
    // 24) per document — the retrieval-corpus construction step. Chunk
    // k covers tokens [k*24+1, k*24+32]; windows keep starting while
    // k*24 < n_tokens, so the tail chunk may be short but every token
    // is covered and consecutive chunks overlap by 8 tokens. Shape:
    // one let-bound split per row, a narrow sequence-explode (no
    // joins, no shuffle — chunk rows stay on their doc's partition),
    // and the portable poly-hash as the chunk content fingerprint a
    // downstream embedder/indexer would key on.
    "t24_rag_chunk" -> QueryDef(
      (s, dir) => {
        val W = 32
        val S = 24
        table(s, dir, "documents")
          .select(col("doc_id"), TextOps.words(col("text")).as("w"))
          .withColumn("n", size(col("w")).cast("long"))
          .filter(col("n") > 0)
          .select(col("doc_id"), col("w"), col("n"),
            explode(sequence(lit(0L), expr(s"(n - 1) DIV $S"))).as("k"))
          .select(col("doc_id"), col("k").as("chunk_ix"),
            (col("k") * S).as("start_tok"),
            concat_ws(" ", slice(col("w"), (col("k") * S + 1).cast("int"),
              lit(W))).as("chunk"))
          .select(col("doc_id"), col("chunk_ix"), col("start_tok"),
            size(split(col("chunk"), " ")).cast("long").as("n_tok"),
            PolyHash.col(col("chunk")).as("fp"))
      },
      Some(s"""WITH words AS (
             |  SELECT doc_id, string_split(text, ' ') AS w,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
             |  FROM documents),
             |chunks AS (
             |  SELECT doc_id, t.k AS chunk_ix, t.k * 24 AS start_tok,
             |    array_to_string(w[CAST(t.k * 24 + 1 AS BIGINT)
             |      :CAST(t.k * 24 + 32 AS BIGINT)], ' ') AS chunk
             |  FROM words, UNNEST(range(0, (n - 1) // 24 + 1)) AS t(k)
             |  WHERE n > 0)
             |SELECT doc_id, CAST(chunk_ix AS BIGINT) AS chunk_ix,
             |  CAST(start_tok AS BIGINT) AS start_tok,
             |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tok,
             |  CAST(${QueryDef.polyHashSql("chunk")} AS BIGINT) AS fp
             |FROM chunks ORDER BY doc_id, chunk_ix""".stripMargin)),

    // Probability-proportional-to-size (PPS) sampling with a
    // Horvitz-Thompson total estimate — the weighted companion of
    // q38's equal-rate stratified sample: big documents are kept with
    // proportionally higher probability (pi_i = min(1, n_chars/400)),
    // so a char-budget estimate from the sample has lower variance
    // than uniform sampling at the same rate. Deterministic: keep iff
    // knuthMix(doc_id) mod 1e6 < rate_ppm — reproducible across
    // engines and stable under corpus growth. The HT estimate
    // rescales each kept doc by 1e6/rate_ppm in EXACT integer
    // arithmetic; the report compares it to the true total per
    // source. Scan-side filter + one dimension-sized agg — no
    // shuffle of raw rows.
    "t26_pps_sample" -> QueryDef(
      (s, dir) => {
        val theta = 400L
        val d = table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            least(lit(1000000L), expr(s"n_chars * 1000000 DIV $theta"))
              .cast("long").as("rate_ppm"),
            (TextOps.knuthMix(col("doc_id")) % 1000000L).as("h"))
        d.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum("n_chars").as("exact_chars"),
            count(when(col("h") < col("rate_ppm"), 1)).as("n_sampled"),
            sum(when(col("h") < col("rate_ppm"),
              expr("n_chars * 1000000 DIV rate_ppm"))).as("est_chars"))
          .withColumn("err_permille",
            expr("CAST(abs(est_chars - exact_chars) * 1000 DIV exact_chars AS BIGINT)"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (
             |  SELECT doc_id, source, n_chars,
             |    least(1000000, n_chars * 1000000 // 400) AS rate_ppm,
             |    ${QueryDef.knuthMixSql("doc_id")} % 1000000 AS h
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS exact_chars,
             |  CAST(count(CASE WHEN h < rate_ppm THEN 1 END) AS BIGINT) AS n_sampled,
             |  CAST(sum(CASE WHEN h < rate_ppm
             |    THEN n_chars * 1000000 // rate_ppm END) AS BIGINT) AS est_chars,
             |  CAST(abs(sum(CASE WHEN h < rate_ppm
             |      THEN n_chars * 1000000 // rate_ppm END) - sum(n_chars)) * 1000
             |    // sum(n_chars) AS BIGINT) AS err_permille
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Right-to-be-forgotten propagation audit: a deletion request set
    // (deterministic stand-in: docs with knuthMix(doc_id) % 17 == 0)
    // must purge the raw corpus AND every derived table. Audited here:
    // documents (1 row/doc), embeddings (the doc's vector row), and
    // the derived 8-word chunk table (d7's segmentation — many rows
    // per doc). Purges are anti-joins keyed on the id (the request
    // set is a table in production, not a computable predicate — so
    // the join, not a filter, is the honest shape; at typical request
    // volumes the deletion side broadcasts). Output: one row per
    // table with purge counts and a survivor checksum (sum of mixed
    // ids — position-independent, so it hash-verifies WHAT survived,
    // not just how much).
    "t27_deletion_propagation" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val del = docs.select(col("doc_id"))
          .filter(TextOps.knuthMix(col("doc_id")) % 17 === 0)
        val emb = table(s, dir, "embeddings").select(col("vec_id").as("id"))
        val chunks = docs
          .select(col("doc_id"), TextOps.words(col("text")).as("w"))
          .select(col("doc_id"),
            explode(TextOps.wordChunksFromWords(col("w"), 8)).as("chunk"))
          .select(col("doc_id").as("id"))
        def audit(tbl: String, rows: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val purged = rows.join(broadcast(del),
            rows("id") === del("doc_id"), "left_semi")
          val kept = rows.join(broadcast(del),
            rows("id") === del("doc_id"), "left_anti")
          purged.agg(count(lit(1)).cast("long").as("n_purged"))
            .crossJoin(kept.agg(count(lit(1)).cast("long").as("n_kept"),
              coalesce(sum(TextOps.knuthMix(col("id"))), lit(0L))
                .cast("long").as("survivor_sum")))
            .select(lit(tbl).as("table_name"), col("n_purged"),
              col("n_kept"), col("survivor_sum"))
        }
        audit("documents", docs.select(col("doc_id").as("id")))
          .unionAll(audit("embeddings", emb))
          .unionAll(audit("doc_chunks", chunks))
          .orderBy("table_name")
      },
      Some(s"""WITH del AS (
             |  SELECT doc_id FROM documents
             |  WHERE ${QueryDef.knuthMixSql("doc_id")} % 17 = 0),
             |chunks AS (
             |  SELECT doc_id AS id
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |    UNNEST(range(0, greatest(len(w) + 7, 8) // 8)) AS t(i)
             |  WHERE len(w) > 0),
             |emb AS (SELECT vec_id AS id FROM embeddings),
             |docs AS (SELECT doc_id AS id FROM documents),
             |aud AS (
             |  SELECT 'documents' AS table_name,
             |    count(CASE WHEN doc_id IS NOT NULL THEN 1 END) AS n_purged,
             |    count(CASE WHEN doc_id IS NULL THEN 1 END) AS n_kept,
             |    coalesce(sum(CASE WHEN doc_id IS NULL
             |      THEN ${QueryDef.knuthMixSql("id")} END), 0) AS survivor_sum
             |  FROM docs LEFT JOIN del ON id = doc_id
             |  UNION ALL
             |  SELECT 'embeddings',
             |    count(CASE WHEN doc_id IS NOT NULL THEN 1 END),
             |    count(CASE WHEN doc_id IS NULL THEN 1 END),
             |    coalesce(sum(CASE WHEN doc_id IS NULL
             |      THEN ${QueryDef.knuthMixSql("id")} END), 0)
             |  FROM emb LEFT JOIN del ON id = doc_id
             |  UNION ALL
             |  SELECT 'doc_chunks',
             |    count(CASE WHEN doc_id IS NOT NULL THEN 1 END),
             |    count(CASE WHEN doc_id IS NULL THEN 1 END),
             |    coalesce(sum(CASE WHEN doc_id IS NULL
             |      THEN ${QueryDef.knuthMixSql("id")} END), 0)
             |  FROM chunks LEFT JOIN del ON id = doc_id)
             |SELECT table_name, CAST(n_purged AS BIGINT) AS n_purged,
             |  CAST(n_kept AS BIGINT) AS n_kept,
             |  CAST(survivor_sum AS BIGINT) AS survivor_sum
             |FROM aud ORDER BY table_name""".stripMargin)),

    // Real BPE subword training, Spark-first: 6 merge rounds over the
    // DISTINCT-WORD table (vocab-sized — the 100 TB lever: training
    // never touches per-occurrence rows; occurrence weights enter as
    // the word-frequency column). Each round is one codegen'd
    // replace() projection plus a pair-count argmax of which the
    // driver collects exactly ONE row (control flow, not data). The
    // oracle unrolls the identical 6 rounds in SQL — pair counts,
    // (cnt DESC, lhs, rhs) tie-break, and the anchored string-replace
    // merge are all replayed bit-for-bit.
    "t28_bpe_train" -> QueryDef(
      (s, dir) => {
        // training is SHARED with t29 (Staged.bpeTrained): one 6-round
        // driver loop per session, not one per consumer; seg stays
        // persisted for t29 and is freed by Staged.release
        val (merges, _) = Staged.bpeTrained(s, dir)
        import s.implicits._
        merges.toDF()
          .select(col("round").cast("long").as("round"), col("lhs"),
            col("rhs"), col("count").as("pair_count"))
          .orderBy("round")
      },
      Some(s"""WITH ${bpeRoundsSql(6)}
             |${(1 to 6).map(r => s"SELECT CAST($r AS BIGINT) AS round, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM b$r")
                .mkString("", "\nUNION ALL\n", "")}
             |ORDER BY round""".stripMargin)),

    // BPE tokenization applied: per-word segment counts from the
    // trained vocab join back to (lang, word) occurrence counts — the
    // honest production shape for "how many tokens is this corpus"
    // (per-row re-segmentation would re-tokenize every occurrence of
    // 'the'). Reports per-lang word occurrences, BPE token count,
    // character volume, and tokens-per-kilochar — the numbers a
    // training-budget plan starts from.
    "t29_bpe_tokens" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        // training SHARED with t28 (Staged.bpeTrained); seg arrives
        // persisted — the token counts read the cached vocab-sized
        // segmentation instead of replaying the 6-round merge lineage
        val (_, seg) = Staged.bpeTrained(s, dir)
        val tok = seg.select(col("word"),
          size(graft.operators.Bpe.symbols(col("seg"))).cast("long").as("n_syms"))
        val occ = docs
          .select(col("lang"), explode(TextOps.words(col("text"))).as("word"))
          .groupBy("lang", "word").agg(count(lit(1)).as("n"))
        occ.join(tok, "word")
          .groupBy("lang")
          .agg(sum("n").as("n_word_occ"),
            sum(col("n") * col("n_syms")).as("n_bpe_tokens"),
            sum(col("n") * length(col("word"))).as("n_chars"))
          .withColumn("bpe_per_kchar",
            expr("CAST(1000 * n_bpe_tokens DIV n_chars AS BIGINT)"))
          .orderBy("lang")
      },
      Some(s"""WITH ${bpeRoundsSql(6)},
             |occ AS (
             |  SELECT lang, t.w AS word, count(*) AS n
             |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents),
             |    UNNEST(ws) AS t(w)
             |  GROUP BY 1, 2),
             |tok AS (
             |  SELECT word, len(list_filter(string_split(seg, '|'),
             |    x -> len(x) > 0)) AS n_syms
             |  FROM s6)
             |SELECT lang, CAST(sum(n) AS BIGINT) AS n_word_occ,
             |  CAST(sum(n * n_syms) AS BIGINT) AS n_bpe_tokens,
             |  CAST(sum(n * len(word)) AS BIGINT) AS n_chars,
             |  CAST(1000 * sum(n * n_syms) // sum(n * len(word)) AS BIGINT)
             |    AS bpe_per_kchar
             |FROM occ JOIN tok USING (word)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Keyword search (BM25-lite retrieval): top-10 documents for a
    // fixed query-term set, scored sum(tf · rational-idf) DIV doc
    // length — t6's log-free Robertson idf surrogate, so scores are
    // exact integers on both engines. The retrieval scale shape: the
    // isInCollection postings prune runs SCAN-SIDE, so only rows for
    // the |Q| query terms ever reach an exchange (at 100 TB that is
    // the posting lists, not the corpus); df and N join in as
    // broadcast dimension-row tables; the cut is a
    // TakeOrderedAndProject under a (score DESC, doc_id) total order.
    "t30_keyword_search" -> QueryDef(
      (s, dir) => {
        val qterms = Seq("join", "hash", "window")
        val docs = table(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
          .filter(col("term").isInCollection(qterms))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val ndocs = docs.agg(count(lit(1)).as("__N"))
        val len = docs.select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        tf.join(broadcast(dfreq), "term").crossJoin(broadcast(ndocs))
          .withColumn("w_micro",
            expr("CAST((1000000 * tf * (2*__N - 2*df + 1)) DIV (2*df + 1) AS BIGINT)"))
          .groupBy("doc_id")
          .agg(sum("w_micro").as("raw_micro"), count(lit(1)).as("n_hit_terms"))
          .join(len, "doc_id")
          .withColumn("score", expr("CAST(raw_micro DIV n_tokens AS BIGINT)"))
          .select(col("doc_id"), col("n_hit_terms"), col("n_tokens"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, t.w AS term
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |    UNNEST(ws) AS t(w)
             |  WHERE t.w IN ('join', 'hash', 'window')),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS nd FROM documents),
             |lens AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |sc AS (
             |  SELECT tf.doc_id,
             |    sum((1000000 * tf.tf * (2*n.nd - 2*dfreq.df + 1)) // (2*dfreq.df + 1))
             |      AS raw_micro,
             |    count(*) AS n_hit_terms
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
             |  GROUP BY 1)
             |SELECT sc.doc_id, n_hit_terms, n_tokens,
             |  CAST(raw_micro // n_tokens AS BIGINT) AS score
             |FROM sc JOIN lens USING (doc_id)
             |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // Pairwise source similarity — the corpus-analytics view behind
    // mixing decisions (which crawls/feeds overlap?): cosine² between
    // per-source PERMILLE token profiles, exact integer end-to-end.
    // Normalizing counts to permille of the source total FIRST is the
    // 100 TB overflow design: dot <= 1e6 and n2 <= 1e6 by construction
    // (sum of permilles is <= 1000), so dot²·1e6 < 2^63 for ANY corpus
    // size — raw counts would overflow at sf1 already. Scale shape:
    // one map-side-combining (source, token) count, a vocab-keyed
    // self-join whose per-token fanout is |sources|² (dimension-bound,
    // corpus-independent), and broadcast norm/total tables.
    "t31_source_similarity" -> QueryDef(
      (s, dir) => {
        val prof = table(s, dir, "documents")
          .select(col("source"), explode(TextOps.words(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val totals = prof.groupBy("source").agg(sum("c").as("tot"))
        val pm = prof.join(broadcast(totals), "source")
          .select(col("source"), col("tok"),
            expr("CAST(c * 1000 DIV tot AS BIGINT)").as("p"))
          .filter(col("p") > 0)
        val norms = pm.groupBy("source").agg(sum(col("p") * col("p")).as("n2"))
        val dot = pm.select(col("source").as("sa"), col("tok"), col("p").as("pa"))
          .join(pm.select(col("source").as("sb"), col("tok"), col("p").as("pb")), "tok")
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(sum(col("pa") * col("pb")).as("dot"))
        dot
          .join(broadcast(norms.select(col("source").as("sa"), col("n2").as("n2a"))), "sa")
          .join(broadcast(norms.select(col("source").as("sb"), col("n2").as("n2b"))), "sb")
          .select(col("sa"), col("sb"), col("dot"),
            expr("CAST(dot * dot * 1000000 DIV (n2a * n2b) AS BIGINT)").as("cos2_ppm"))
          .orderBy("sa", "sb")
      },
      Some("""WITH prof AS (
             |  SELECT source, t.w AS tok, count(*) AS c
             |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents),
             |    UNNEST(ws) AS t(w)
             |  GROUP BY 1, 2),
             |totals AS (SELECT source, sum(c) AS tot FROM prof GROUP BY 1),
             |pm AS (
             |  SELECT prof.source, tok, c * 1000 // tot AS p
             |  FROM prof JOIN totals USING (source)
             |  WHERE c * 1000 // tot > 0),
             |norms AS (SELECT source, sum(p * p) AS n2 FROM pm GROUP BY 1),
             |dots AS (
             |  SELECT a.source AS sa, b.source AS sb, sum(a.p * b.p) AS dot
             |  FROM pm a JOIN pm b ON a.tok = b.tok AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT sa, sb, CAST(dot AS BIGINT) AS dot,
             |  CAST(dot * dot * 1000000 // (na.n2 * nb.n2) AS BIGINT) AS cos2_ppm
             |FROM dots JOIN norms na ON na.source = sa
             |JOIN norms nb ON nb.source = sb
             |ORDER BY 1, 2""".stripMargin)),

    // Dataset card: the per-source governance rollup every corpus
    // release ships — volume (docs/tokens/chars), quality-pass rate,
    // language-label agreement, and exact-dup rate, one row per
    // source. Shape: ONE conditional-agg scan for the signal columns
    // (all scan-side codegen'd Column exprs reused from t1/t2/t3) plus
    // d1's two-level hash-distinct for the dup rate (text never
    // shuffles — only (source, xxhash64) pairs; a count_distinct
    // EXPAND would double-scan). The oracle groups by raw text (d1's
    // convention: the 64-bit hash stands in for text equality).
    "t33_dataset_card" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val base = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text"))).as("n_tokens"),
          sum("n_chars").as("n_chars"),
          count(when(TextOps.qualityPass(col("text"), col("n_chars")), 1))
            .as("n_quality"),
          count(when(TextOps.langId(col("text")) === col("lang"), 1))
            .as("n_lang_match"))
        val distinctTexts = docs
          .select(col("source"), xxhash64(col("text")).as("h"))
          .groupBy("source", "h").agg(count(lit(1)).as("k"))
          .groupBy("source").agg(count(lit(1)).as("n_distinct"))
        base.join(distinctTexts, "source")
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
            expr("CAST(1000 * n_quality DIV n_docs AS BIGINT)")
              .as("quality_permille"),
            expr("CAST(1000 * n_lang_match DIV n_docs AS BIGINT)")
              .as("langid_match_permille"),
            expr("CAST(1000 * (n_docs - n_distinct) DIV n_docs AS BIGINT)")
              .as("dup_permille"))
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT source, lang, n_chars, text, string_split(text, ' ') AS w
             |  FROM documents),
             |sig AS (
             |  SELECT source, count(*) AS n_docs,
             |    sum(len(w)) AS n_tokens, sum(n_chars) AS n_chars,
             |    count(CASE WHEN n_chars >= 100 AND n_chars <= 20000
             |      AND len(w) >= 20
             |      AND floor(1000.0 * len(list_filter(w, x -> x IN
             |        ('the','a','of','and','to','in','is','it'))) / len(w)) >= 10
             |      THEN 1 END) AS n_quality,
             |    count(CASE WHEN lang = (
             |        CASE WHEN len(list_filter(w, x -> x IN
             |            ('le','la','de','et','est','un','une','dans'))) >
             |          greatest(len(list_filter(w, x -> x IN
             |            ('the','a','of','and','to','in','is','it'))),
             |            len(list_filter(w, x -> x IN
             |            ('der','die','das','und','ist','nicht','ein','zu'))))
             |          THEN 'fr'
             |        WHEN len(list_filter(w, x -> x IN
             |            ('der','die','das','und','ist','nicht','ein','zu'))) >
             |          len(list_filter(w, x -> x IN
             |            ('the','a','of','and','to','in','is','it')))
             |          THEN 'de' ELSE 'en' END)
             |      THEN 1 END) AS n_lang_match
             |  FROM t GROUP BY 1),
             |dst AS (
             |  SELECT source, count(DISTINCT text) AS n_distinct
             |  FROM documents GROUP BY 1)
             |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(n_chars AS BIGINT) AS n_chars,
             |  CAST(1000 * n_quality // n_docs AS BIGINT) AS quality_permille,
             |  CAST(1000 * n_lang_match // n_docs AS BIGINT) AS langid_match_permille,
             |  CAST(1000 * (n_docs - n_distinct) // n_docs AS BIGINT) AS dup_permille
             |FROM sig JOIN dst USING (source) ORDER BY source""".stripMargin)),

    // Code-vs-prose detection (The-Stack-style corpus routing): symbol
    // density + programming-keyword hits, both scan-side codegen'd
    // (one regex strip + one vocab filter), flag = either signal
    // firing. The synthetic corpus is pure prose, so both engines
    // inject an identical code fragment into doc_id % 5 == 0 (t9's
    // convention) — the classifier must fire on exactly those docs.
    // Regex class chosen Java/RE2-identical (escaped brackets, no
    // shorthand classes).
    "t35_code_detection" -> QueryDef(
      (s, dir) => {
        val kws = Seq("def", "return", "import", "class", "function", "var")
        val symRe = "[\\]\\[(){};=<>:+*]"
        val itext = when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" def f(x): return x[0] + {1: 2}[1];")))
          .otherwise(col("text"))
        table(s, dir, "documents")
          .select(col("doc_id"), itext.as("itext"))
          .select(col("doc_id"),
            floor(lit(1000.0) *
              (length(col("itext")) -
                length(regexp_replace(col("itext"), symRe, ""))) /
              length(col("itext"))).cast("long").as("sym_permille"),
            size(filter(split(col("itext"), " "),
              w => w.isInCollection(kws))).cast("long").as("kw_hits"))
          .withColumn("is_code",
            (col("sym_permille") >= 20 || col("kw_hits") >= 2).cast("long"))
      },
      Some("""WITH inj AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0
             |      THEN text || ' def f(x): return x[0] + {1: 2}[1];'
             |      ELSE text END AS itext
             |  FROM documents),
             |sig AS (
             |  SELECT doc_id,
             |    CAST(floor(1000.0 * (length(itext) -
             |      length(regexp_replace(itext, '[\]\[(){};=<>:+*]', '', 'g')))
             |      / length(itext)) AS BIGINT) AS sym_permille,
             |    CAST(len(list_filter(string_split(itext, ' '), x -> x IN
             |      ('def','return','import','class','function','var')))
             |      AS BIGINT) AS kw_hits
             |  FROM inj)
             |SELECT doc_id, sym_permille, kw_hits,
             |  CAST(CASE WHEN sym_permille >= 20 OR kw_hits >= 2
             |    THEN 1 ELSE 0 END AS BIGINT) AS is_code
             |FROM sig ORDER BY doc_id""".stripMargin)),

    // ---- vocabulary growth curve (Heaps' law report) ----------------
    // Types-vs-tokens as the corpus grows in doc-id order: per decile
    // of the id range, token occurrences, NEW word types (words whose
    // FIRST occurrence lands in the decile), cumulative types/tokens,
    // and types-per-million-tokens — the curve a corpus curator reads
    // to judge dedup quality and diversity (a flattening curve means
    // the crawl is re-reading itself). Scale shape: the only full-data
    // aggs are a map-side-combining per-word min(doc_id) and a decile
    // token count; the cumulative windows run over the 10-row decile
    // table. Decile = doc_id·10 DIV (max_id+1) (1-row broadcast).
    "t37_vocab_growth" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val words = docs.select(col("doc_id"),
          explode(TextOps.words(col("text"))).as("tok"))
        val mx = docs.agg(max("doc_id").as("md"))
        val toks = words.crossJoin(broadcast(mx))
          .groupBy(expr("doc_id * 10 DIV (md + 1)").as("decile"))
          .agg(count(lit(1)).as("n_tokens"))
        val news = words.groupBy("tok").agg(min("doc_id").as("fd"))
          .crossJoin(broadcast(mx))
          .groupBy(expr("fd * 10 DIV (md + 1)").as("decile"))
          .agg(count(lit(1)).as("n_new_types"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        toks.join(news, Seq("decile"), "left")
          .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
          .withColumn("cum_types", sum("n_new_types").over(w))
          .withColumn("cum_tokens", sum("n_tokens").over(w))
          .withColumn("types_per_mtok", expr("cum_types * 1000000 DIV cum_tokens"))
          .orderBy("decile")
      },
      Some("""WITH words AS (SELECT doc_id, t.tok
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |    UNNEST(w) AS t(tok)),
             |mx AS (SELECT max(doc_id) AS md FROM documents),
             |toks AS (SELECT doc_id * 10 // (md + 1) AS decile,
             |    count(*) AS n_tokens
             |  FROM words, mx GROUP BY 1),
             |news AS (SELECT fd * 10 // (md + 1) AS decile,
             |    count(*) AS n_new_types
             |  FROM (SELECT tok, min(doc_id) AS fd FROM words GROUP BY 1), mx
             |  GROUP BY 1)
             |SELECT decile, n_tokens, n_new_types,
             |  CAST(sum(n_new_types) OVER (ORDER BY decile
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types,
             |  CAST(sum(n_tokens) OVER (ORDER BY decile
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             |  CAST(sum(n_new_types) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             |    * 1000000 // sum(n_tokens) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             |    AS BIGINT) AS types_per_mtok
             |FROM (SELECT t.decile, t.n_tokens,
             |    coalesce(n.n_new_types, 0) AS n_new_types
             |  FROM toks t LEFT JOIN news n USING (decile))
             |ORDER BY 1""".stripMargin)),

    // ---- winnowing document fingerprints (MOSS) ---------------------
    // Schleimer/Wilkerson/Aiken SIGMOD'03 local fingerprinting: word
    // 5-gram rolling hashes, sliding windows of w=4 consecutive
    // hashes, each window selects its MINIMUM hash (rightmost
    // occurrence on ties — the paper's rule; encoded so one integer
    // min does hash-asc/pos-desc: key = h·2²⁰ + (2²⁰−1−pos), valid to
    // 1M-gram docs), consecutive windows picking the same (hash, pos)
    // collapse to ONE fingerprint. The guarantee t4's whole-doc hash
    // and d13's fixed-stride windows lack: any shared run of ≥ w+n−1
    // words yields a shared fingerprint, at a stored density of
    // ~2/(w+1) instead of every position. Shape: narrow gram explode
    // (zero shuffle — grams stay on their doc's partition), ONE
    // doc-partitioned window (per-doc sort, doc-length bounded), one
    // map-side-combining per-doc agg. Docs with fewer than w+n-1
    // words have no complete window and emit no row (documented
    // contract, identical on both engines).
    "t36_winnowing" -> QueryDef(
      (s, dir) => {
        winnowFps(s, dir).groupBy("doc_id")
          .agg(max("n_grams").as("n_grams"),
            count(lit(1)).as("n_fp"),
            sum("fp_hash").as("fp_checksum"))
          .withColumn("density_permille",
            expr("n_fp * 1000 DIV (n_grams - 3)"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $winnowCtes
             |SELECT doc_id, CAST(max(n_grams) AS BIGINT) AS n_grams,
             |  count(*) AS n_fp, CAST(sum(fp_hash) AS BIGINT) AS fp_checksum,
             |  CAST(count(*) * 1000 // (max(n_grams) - 3) AS BIGINT)
             |    AS density_permille
             |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- language-label confusion matrix ----------------------------
    // Declared `lang` column × t3's detected language, with each
    // cell's share of its declared row (permille) — the labeling-QA
    // matrix that says WHERE the metadata and the detector disagree
    // (t3 reports per-doc agreement; this is the aggregate diagnosis).
    // One map-side (declared, predicted) count + a dimension-sized
    // row-total join; the SAME langid rendering as t3 on both engines.
    "t44_lang_confusion" -> QueryDef(
      (s, dir) => {
        val cells = table(s, dir, "documents")
          .select(col("lang").as("declared"),
            TextOps.langId(col("text")).as("predicted"))
          .groupBy("declared", "predicted").agg(count(lit(1)).as("n"))
        val rows = cells.groupBy("declared").agg(sum("n").as("row_n"))
        cells.join(rows, "declared")
          .select(col("declared"), col("predicted"), col("n"),
            expr("n * 1000 DIV row_n").as("row_share_permille"))
          .orderBy("declared", "predicted")
      },
      Some(s"""WITH ${langIdScoreCtes()},
             |cells AS (SELECT lang AS declared, $langIdPredSql AS predicted,
             |    count(*) AS n
             |  FROM sc GROUP BY 1, 2),
             |rows_ AS (SELECT declared, sum(n) AS row_n FROM cells GROUP BY 1)
             |SELECT declared, predicted, n,
             |  CAST(n * 1000 // row_n AS BIGINT) AS row_share_permille
             |FROM cells JOIN rows_ USING (declared)
             |ORDER BY 1, 2""".stripMargin)),

    // ---- padding-waste report (length-bucketed batching) ------------
    // Inference batching groups sequences into power-of-two length
    // buckets and pads to the bucket size; this report prices that
    // policy: per bucket, docs, real tokens, padded slots, and the
    // waste permille — the number a serving team reads before picking
    // bucket boundaries. Bucket assignment is an explicit CASE chain
    // (identical on both engines — no float log2); ONE map-side agg.
    "t42_padding_waste" -> QueryDef(
      (s, dir) => {
        val n = TextOps.tokenCount(col("text"))
        val bucket = when(n <= 16, 16L).when(n <= 32, 32L)
          .when(n <= 64, 64L).when(n <= 128, 128L).when(n <= 256, 256L)
          .when(n <= 512, 512L).when(n <= 1024, 1024L)
          .when(n <= 2048, 2048L).otherwise(4096L)
        table(s, dir, "documents")
          .select(bucket.as("bucket"), n.as("n_tokens"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
          .select(col("bucket"), col("n_docs"), col("sum_tokens"),
            (col("bucket") * col("n_docs") - col("sum_tokens")).as("padded_slots"),
            expr("(bucket * n_docs - sum_tokens) * 1000 DIV (bucket * n_docs)")
              .as("waste_permille"))
          .orderBy("bucket")
      },
      Some("""WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
             |  FROM documents),
             |b AS (SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
             |    WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
             |    WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
             |    WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
             |    ELSE 4096 END AS bucket, n
             |  FROM t)
             |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS sum_tokens,
             |  CAST(bucket * count(*) - sum(n) AS BIGINT) AS padded_slots,
             |  CAST((bucket * count(*) - sum(n)) * 1000 // (bucket * count(*))
             |    AS BIGINT) AS waste_permille
             |FROM b GROUP BY bucket ORDER BY 1""".stripMargin)),

    // ---- prefix-cache reuse estimate --------------------------------
    // KV-cache prefix sharing prices how many sequences start with an
    // 8-word prefix some other sequence shares (those prefill tokens
    // are servable from cache). One groupBy on the materialized prefix
    // string; dimension-sized summary out (share permille, group
    // census, largest family). Docs under 8 words have no full prefix
    // and are excluded on both engines.
    "t43_prefix_cache" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), TextOps.words(col("text")).as("w"))
          .filter(size(col("w")) >= 8)
          .select(concat_ws(" ", slice(col("w"), 1, 8)).as("prefix"))
        val groups = docs.groupBy("prefix").agg(count(lit(1)).as("n"))
        groups.agg(sum("n").as("n_docs"),
            sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("n_sharable"),
            count(when(col("n") >= 2, 1)).as("n_shared_groups"),
            max("n").as("max_family"))
          .select(col("n_docs"), col("n_sharable"),
            expr("n_sharable * 1000 DIV n_docs").as("sharable_permille"),
            col("n_shared_groups"), col("max_family"))
      },
      Some("""WITH p AS (SELECT array_to_string(w[1:8], ' ') AS prefix
             |  FROM (SELECT string_split(text, ' ') AS w FROM documents)
             |  WHERE len(w) >= 8),
             |g AS (SELECT prefix, count(*) AS n FROM p GROUP BY 1)
             |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
             |    AS n_sharable,
             |  CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) * 1000 // sum(n)
             |    AS BIGINT) AS sharable_permille,
             |  CAST(count(CASE WHEN n >= 2 THEN 1 END) AS BIGINT)
             |    AS n_shared_groups,
             |  CAST(max(n) AS BIGINT) AS max_family
             |FROM g""".stripMargin)),

    // ---- split leakage audit (doc-hash vs group split) --------------
    // The audit that justifies t22 over t11: join the staged near-dup
    // pair graph to BOTH split policies' assignments and count pairs
    // that straddle a train/val/test boundary under each. Doc-hash
    // splitting leaks ~1/3 of near-dup pairs by construction
    // (independent hashes); source-group splitting zeroes the
    // intra-source leaks and the residual number IS the cross-source
    // duplication d23 measures — the audit quantifies exactly what
    // each policy buys. Same interpolated hash constants as t11/t22,
    // so a rule change cannot desynchronize policy and audit.
    "t40_split_leak_audit" -> QueryDef(
      (s, dir) => {
        val dv = TextOps.knuthMix(col("doc_id")) % 10
        val gv = TextOps.knuthMix(PolyHash.col(col("source"))) % 10
        def splitOf(v: org.apache.spark.sql.Column) =
          when(v < 8, "train").when(v === 8, "val").otherwise("test")
        val assign = table(s, dir, "documents")
          .select(col("doc_id"), splitOf(dv).as("d_split"), splitOf(gv).as("g_split"))
        Staged.docNearDupPairs(s, dir)
          .join(assign.select(col("doc_id").as("doc_a"),
            col("d_split").as("da"), col("g_split").as("ga")), "doc_a")
          .join(assign.select(col("doc_id").as("doc_b"),
            col("d_split").as("db"), col("g_split").as("gb")), "doc_b")
          .agg(count(lit(1)).as("n_pairs"),
            count(when(col("da") =!= col("db"), 1)).as("doc_policy_leaks"),
            count(when(col("ga") =!= col("gb"), 1)).as("group_policy_leaks"))
          .select(col("n_pairs"), col("doc_policy_leaks"), col("group_policy_leaks"),
            expr("doc_policy_leaks * 1000 DIV n_pairs").as("doc_leak_permille"),
            expr("group_policy_leaks * 1000 DIV n_pairs").as("group_leak_permille"))
      },
      Some(s"""WITH ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)},
             |asg AS (SELECT doc_id,
             |    CASE WHEN dv < 8 THEN 'train' WHEN dv = 8 THEN 'val'
             |      ELSE 'test' END AS d_split,
             |    CASE WHEN gv < 8 THEN 'train' WHEN gv = 8 THEN 'val'
             |      ELSE 'test' END AS g_split
             |  FROM (SELECT doc_id,
             |      ${QueryDef.knuthMixSql("doc_id")} % 10 AS dv,
             |      ${QueryDef.knuthMixSql(QueryDef.polyHashSql("source"))} % 10 AS gv
             |    FROM documents))
             |SELECT count(*) AS n_pairs,
             |  CAST(count(CASE WHEN a.d_split <> b.d_split THEN 1 END) AS BIGINT)
             |    AS doc_policy_leaks,
             |  CAST(count(CASE WHEN a.g_split <> b.g_split THEN 1 END) AS BIGINT)
             |    AS group_policy_leaks,
             |  CAST(count(CASE WHEN a.d_split <> b.d_split THEN 1 END) * 1000
             |    // count(*) AS BIGINT) AS doc_leak_permille,
             |  CAST(count(CASE WHEN a.g_split <> b.g_split THEN 1 END) * 1000
             |    // count(*) AS BIGINT) AS group_leak_permille
             |FROM qp JOIN asg a ON a.doc_id = da
             |JOIN asg b ON b.doc_id = db""".stripMargin)),

    // ---- per-source language-mix drift ------------------------------
    // sim10's text sibling: per source, the L1 distance (permille)
    // between the language distributions of the two ingest halves
    // (doc-id parity) — the governance check that a source's language
    // mix did not silently shift between crawls. Exact integer:
    // per-(source, half, lang) counts, permille shares, FULL join so
    // a language present in only one half contributes its whole
    // share; one map-side agg + dimension-sized joins.
    "t41_source_lang_drift" -> QueryDef(
      (s, dir) => {
        val h = table(s, dir, "documents")
          .select(col("source"), col("lang"), (col("doc_id") % 2).as("half"))
        val counts = h.groupBy("source", "half", "lang").agg(count(lit(1)).as("c"))
        val totals = counts.groupBy("source", "half").agg(sum("c").as("tot"))
        val shares = counts.join(totals, Seq("source", "half"))
          .select(col("source"), col("half"), col("lang"),
            expr("c * 1000 DIV tot").as("p"))
        val even = shares.filter(col("half") === 0)
          .select(col("source"), col("lang"), col("p").as("p0"))
        val odd = shares.filter(col("half") === 1)
          .select(col("source"), col("lang"), col("p").as("p1"))
        even.join(odd, Seq("source", "lang"), "full")
          .select(col("source"),
            coalesce(col("p0"), lit(0L)).as("p0"),
            coalesce(col("p1"), lit(0L)).as("p1"))
          .groupBy("source")
          .agg(sum(abs(col("p0") - col("p1"))).as("l1_drift_permille"))
          .orderBy("source")
      },
      Some("""WITH h AS (SELECT source, lang, doc_id % 2 AS half
             |  FROM documents),
             |counts AS (SELECT source, half, lang, count(*) AS c
             |  FROM h GROUP BY 1, 2, 3),
             |totals AS (SELECT source, half, sum(c) AS tot
             |  FROM counts GROUP BY 1, 2),
             |shares AS (SELECT c.source, c.half, c.lang, c.c * 1000 // t.tot AS p
             |  FROM counts c JOIN totals t USING (source, half)),
             |j AS (SELECT coalesce(e.source, o.source) AS source,
             |    coalesce(e.p, 0) AS p0, coalesce(o.p, 0) AS p1
             |  FROM (SELECT source, lang, p FROM shares WHERE half = 0) e
             |  FULL JOIN (SELECT source, lang, p FROM shares WHERE half = 1) o
             |    USING (source, lang))
             |SELECT source, CAST(sum(abs(p0 - p1)) AS BIGINT)
             |  AS l1_drift_permille
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- keyword-in-context concordance (KWIC) ----------------------
    // Every occurrence of a target word with its ±3-word context — the
    // corpus-inspection tool behind "show me how this term is used"
    // (quality triage, slur/PII audits, tokenizer debugging). The
    // target is derived IN-PLAN (the rank-3 most frequent word under a
    // (count DESC, word) total order) so both engines replay it; hits
    // join the 1-row keyword table as a broadcast HASH join on the
    // token (no BNLJ), context is pure array-slice arithmetic on the
    // already-split words column. Top-100 under the unique (doc, pos)
    // order via TakeOrderedAndProject.
    "t39_concordance" -> QueryDef(
      (s, dir) => {
        val withW = table(s, dir, "documents")
          .select(col("doc_id"), TextOps.words(col("text")).as("w"))
          .select(col("doc_id"), col("w"),
            posexplode(col("w")).as(Seq("pos", "tok")))
        val freq = withW.groupBy("tok").agg(count(lit(1)).as("c"))
        val kw = freq.orderBy(col("c").desc, col("tok")).limit(3)
          .orderBy(col("c"), col("tok").desc).limit(1)
          .select(col("tok").as("kw_tok"))
        withW.join(broadcast(kw), col("tok") === col("kw_tok"))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("tok").as("keyword"),
            concat_ws(" ", expr(
              "slice(w, greatest(1, pos + 1 - 3), pos + 1 + 3 - greatest(1, pos + 1 - 3) + 1)"))
              .as("context"))
          .orderBy("doc_id", "pos")
          .limit(100)
      },
      Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents),
             |tk AS (SELECT doc_id, w, i - 1 AS pos, w[i] AS tok
             |  FROM words, UNNEST(range(1, len(w) + 1)) AS t(i)),
             |freq AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
             |kw AS (SELECT tok AS kw_tok FROM
             |  (SELECT tok, c FROM freq ORDER BY c DESC, tok LIMIT 3)
             |  ORDER BY c, tok DESC LIMIT 1)
             |SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok AS keyword,
             |  array_to_string(
             |    w[greatest(1, pos + 1 - 3):least(len(w), pos + 1 + 3)], ' ')
             |    AS context
             |FROM tk JOIN kw ON tok = kw_tok
             |ORDER BY doc_id, pos LIMIT 100""".stripMargin)),

    // ---- winnowing fingerprint-pair join (the MOSS use case) --------
    // Docs sharing >= 3 distinct selected fingerprints — the
    // plagiarism/excerpt detector built on t36's index: any shared run
    // of >= w+n-1 words yields a shared fingerprint (the winnowing
    // guarantee), so overlapping passages pair WITHOUT comparing full
    // shingle sets, at ~2/(w+1) of the index size d5 carries. Join is
    // a plain equi-join on the 30-bit fingerprint hash over the ONE
    // shared winnowFps rendering; hot fingerprints (corpus
    // boilerplate) drive the fanout — d5's bounded-vocab caveat, with
    // d21 boilerplate removal as the upstream fix.
    "t38_winnow_pairs" -> QueryDef(
      (s, dir) => {
        val fp = winnowFps(s, dir).select(col("doc_id"), col("fp_hash")).distinct()
        fp.as("a").join(fp.as("b"),
            col("a.fp_hash") === col("b.fp_hash") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $winnowCtes,
             |pf AS (SELECT DISTINCT doc_id, fp_hash FROM fp)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  count(*) AS n_shared
             |FROM pf a JOIN pf b
             |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 3
             |ORDER BY 1, 2""".stripMargin)),

    "t4_fingerprint" -> QueryDef(
      (s, dir) => {
        table(s, dir, "documents")
          .select(col("doc_id"), PolyHash.col(col("text")).as("fp"))
      },
      Some(s"""SELECT doc_id,
             |  CAST(${QueryDef.polyHashSql("text")} AS BIGINT) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Weighted mixture MANIFEST: the training-mix construction step —
    // each source gets a document budget proportional to its mixture
    // weight (here the deterministic 1 + ord%3 weight table), and the
    // selection within a source is a deterministic simple random
    // sample: bottom-budget docs by scrambled content-key hash (q34's
    // consistent-sampling pattern). Shape: per-source O(kMax)
    // MERGEABLE topk_sketch state — no global sort and no per-source
    // window over the corpus, so at 100 TB the manifest costs one
    // map-side-combining agg over (source) regardless of corpus size,
    // and re-running on a grown corpus keeps previously-sampled docs
    // stable except where a new doc's hash displaces the cutoff
    // (consistent sampling). Oracle replays scramble + per-source
    // row_number + the same budget arithmetic.
    "t45_mixture_sample" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        val kMax = 15 // = max budget: 5 * max weight 3
        table(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            KMinAgg.scramble(PolyHash.col(
              col("doc_id").cast("string"))).as("h"))
          // score = -hash: topk_sketch's (score desc, id asc) = (hash
          // asc, doc asc); scrambled hashes < 2^30 are exact in double;
          // the buffer comes back best-first, so slice(1, budget) IS
          // the per-source quota cut
          .groupBy("source")
          .agg(TopKSketch.col(col("doc_id"),
            (-col("h")).cast("double"), kMax).as("picked"))
          .withColumn("budget",
            expr("5 * (1 + CAST(substring(source, 4) AS INT) % 3)"))
          .select(col("source"),
            posexplode(expr("slice(picked.id, 1, budget)"))
              .as(Seq("__p", "doc_id")))
          .select(col("source"), (col("__p") + 1).cast("long").as("rank"),
            col("doc_id"))
          .orderBy("source", "rank")
      },
      Some(s"""WITH ${QueryDef.scrambledHashCtes(
                 "(SELECT source, doc_id, CAST(doc_id AS VARCHAR) AS rk FROM documents)",
                 Seq("source", "doc_id"), "rk")},
             |r AS (SELECT source, doc_id, row_number() OVER
             |    (PARTITION BY source ORDER BY hv, doc_id) AS rank FROM h)
             |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
             |FROM r
             |WHERE rank <= 5 * (1 + CAST(substr(source, 4) AS INTEGER) % 3)
             |ORDER BY source, rank""".stripMargin)),

    // Vocabulary DRIFT between corpus snapshots — the tokenizer-health
    // check a pretraining pipeline runs on every ingest: how much of
    // the new snapshot's token mass is out-of-vocabulary w.r.t. the
    // tokenizer's training snapshot (high OOV permille = retrain the
    // tokenizer / inspect the source). Snapshot A = docs < 250 (the
    // vocab), B = the rest. Shape: A contracts to its DISTINCT-word
    // vocab FIRST (the only thing that moves from the old corpus —
    // at 100 TB the vocab table is persisted once, like d25's index),
    // then one left join from B's per-word COUNTS (not occurrences:
    // the join input is pre-aggregated per (lang, word), so the
    // shuffle carries the word dimension, never the corpus). Exact
    // integer permille.
    "t46_vocab_drift" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val vocabA = docs.filter(col("doc_id") < 250)
          .select(explode(TextOps.words(col("text"))).as("word"))
          .filter(length(col("word")) > 0).distinct()
          .withColumn("known", lit(1L))
        val countsB = docs.filter(col("doc_id") >= 250)
          .select(col("lang"), explode(TextOps.words(col("text"))).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("lang", "word").agg(count(lit(1)).as("n"))
        countsB.join(vocabA, Seq("word"), "left")
          .groupBy("lang")
          .agg(sum("n").as("n_tokens"),
            sum(when(col("known").isNull, col("n")).otherwise(0L)).as("n_oov"),
            countDistinct(when(col("known").isNull, col("word"))).as("n_oov_types"))
          .withColumn("oov_permille",
            expr("CAST(1000 * n_oov DIV n_tokens AS BIGINT)"))
          .orderBy("lang")
      },
      Some("""WITH va AS (
             |  SELECT DISTINCT t.w AS word
             |  FROM (SELECT string_split(text, ' ') AS ws FROM documents
             |        WHERE doc_id < 250), UNNEST(ws) AS t(w)
             |  WHERE len(t.w) > 0),
             |cb AS (
             |  SELECT lang, t.w AS word, count(*) AS n
             |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents
             |        WHERE doc_id >= 250), UNNEST(ws) AS t(w)
             |  WHERE len(t.w) > 0 GROUP BY 1, 2)
             |SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN va.word IS NULL THEN n ELSE 0 END) AS BIGINT)
             |    AS n_oov,
             |  CAST(count(DISTINCT CASE WHEN va.word IS NULL THEN cb.word END)
             |    AS BIGINT) AS n_oov_types,
             |  CAST(1000 * sum(CASE WHEN va.word IS NULL THEN n ELSE 0 END)
             |    // sum(n) AS BIGINT) AS oov_permille
             |FROM cb LEFT JOIN va ON cb.word = va.word
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // END-TO-END TRAINING-DATA MANIFEST — the full pretraining
    // data-prep chain as ONE query, every stage the registered
    // operator itself: quality gate (t5's rule) → exact dedup over the
    // gated pool (d1) → eval holdout + d8 4-gram decontamination
    // (broadcast eval grams, train side scan-filtered) → per-source
    // weighted budget sampling (t45's bounded topk_sketch state) →
    // per-source manifest (pool size, selected docs, token/char mass).
    // The "switch your whole pipeline to this engine" flagship one
    // step beyond t5: t5 stops at corpus stats, this emits the actual
    // training-mix manifest a run would consume. Scale shape: narrow
    // gates, one content-hash dedup shuffle, one broadcast gram join,
    // O(k) per-source sampler state, dimension-sized output — no stage
    // materializes the corpus twice (the pool is staged once, the
    // production analog of writing the cleaned pool to parquet).
    "t47_training_manifest" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        import graft.functions.KMinAgg
        val docs = table(s, dir, "documents")
        val pooled = Staged.cached(s, s"t47pool:$dir") {
          val gated = docs.filter(TextOps.qualityPass(col("text"), col("n_chars")))
          val surv = graft.operators.Dedup.exactSurvivors(gated, "text", "doc_id")
          val contaminated = graft.operators.Dedup.contaminationReport(
            docs, "doc_id", "text", 4, id => id % 50 === 0).select("doc_id")
          gated.join(surv, "doc_id")
            .filter(col("doc_id") % 50 =!= 0)
            .join(contaminated, Seq("doc_id"), "left_anti")
            .select(col("source"), col("doc_id"))
        }
        val kMax = 15
        val picked = pooled
          .select(col("source"), col("doc_id"),
            KMinAgg.scramble(PolyHash.col(
              col("doc_id").cast("string"))).as("h"))
          .groupBy("source")
          .agg(TopKSketch.col(col("doc_id"),
            (-col("h")).cast("double"), kMax).as("picked"))
          .withColumn("budget",
            expr("5 * (1 + CAST(substring(source, 4) AS INT) % 3)"))
          .select(col("source"),
            explode(expr("slice(picked.id, 1, budget)")).as("doc_id"))
        val poolN = pooled.groupBy("source").agg(count(lit(1)).as("n_pool"))
        picked.join(docs.select("doc_id", "text", "n_chars"), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_selected"),
            sum(TextOps.tokenCount(col("text"))).as("sel_tokens"),
            sum(col("n_chars").cast("long")).as("sel_chars"))
          .join(poolN, "source")
          .select("source", "n_pool", "n_selected", "sel_tokens", "sel_chars")
          .orderBy("source")
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, source, n_chars, text,
             |    string_split(text, ' ') AS w FROM documents),
             |q AS (SELECT * FROM t
             |  WHERE n_chars >= 100 AND n_chars <= 20000 AND len(w) >= 20
             |    AND floor(1000.0 * len(list_filter(w, x -> x IN
             |      ('the','a','of','and','to','in','is','it'))) / len(w)) >= 10),
             |surv AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
             |${QueryDef.shingleCtes(4)},
             |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
             |contam AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (s)
             |  WHERE sh.doc_id % 50 <> 0),
             |pool AS (
             |  SELECT q.source, q.doc_id FROM q JOIN surv USING (doc_id)
             |  WHERE q.doc_id % 50 <> 0
             |    AND q.doc_id NOT IN (SELECT doc_id FROM contam)),
             |${QueryDef.scrambledHashCtes(
                 "(SELECT source, doc_id, CAST(doc_id AS VARCHAR) AS rk FROM pool)",
                 Seq("source", "doc_id"), "rk")},
             |r AS (SELECT source, doc_id, row_number() OVER
             |    (PARTITION BY source ORDER BY hv, doc_id) AS rank FROM h),
             |sel AS (SELECT source, doc_id FROM r
             |  WHERE rank <= 5 * (1 + CAST(substr(source, 4) AS INTEGER) % 3)),
             |pn AS (SELECT source, count(*) AS n_pool FROM pool GROUP BY 1)
             |SELECT sel.source, pn.n_pool, count(*) AS n_selected,
             |  CAST(sum(len(d.w)) AS BIGINT) AS sel_tokens,
             |  CAST(sum(d.n_chars) AS BIGINT) AS sel_chars
             |FROM sel JOIN t d USING (doc_id) JOIN pn ON pn.source = sel.source
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // ---- Zipf rank-bucket profile --------------------------------
    // The corpus-health diagnostic behind every tokenizer/vocab
    // decision: bucket the term-frequency ranks by powers of two and
    // report per-bucket type counts and frequency mass. All integer
    // arithmetic — the bucket is the bit length of the rank
    // (length(bin(rank)) - 1), never floor(log2(double)), so engines
    // cannot disagree on boundaries. NO per-token rank window at all
    // (the vocabulary is only Heaps-bounded — it still grows with the
    // corpus): ties share a frequency, and bucket membership depends
    // only on rank, so each distinct frequency's tie block — a rank
    // span [cum-cnt+1, cum] off the counts-of-counts cumulative
    // histogram — is intersected with the power-of-two rank ranges
    // arithmetically. The tok tiebreak cancels out: every split of a
    // block across buckets yields these exact counts whatever the
    // within-block order.
    "t48_zipf_buckets" -> QueryDef(
      (s, dir) => {
        val freq = table(s, dir, "documents")
          .select(explode(TextOps.words(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("freq"))
        val hist = graft.operators.RankStats
          .cumulativeHistogram(freq, Seq.empty, "freq", ascending = false)
        hist
          .withColumn("lo", col("cum") - col("cnt") + 1)
          .withColumn("bucket", explode(sequence(
            (length(bin(col("lo"))) - 1).cast("long"),
            (length(bin(col("cum"))) - 1).cast("long"))))
          .withColumn("r_lo",
            greatest(col("lo"), expr("shiftleft(1L, CAST(bucket AS INT))")))
          .withColumn("r_hi",
            least(col("cum"),
              expr("shiftleft(1L, CAST(bucket AS INT) + 1) - 1")))
          .withColumn("n_in", col("r_hi") - col("r_lo") + 1)
          .groupBy("bucket")
          .agg(sum("n_in").as("n_types"),
            sum(col("freq") * col("n_in")).as("sum_freq"),
            max("freq").as("max_freq"), min("freq").as("min_freq"))
          .orderBy("bucket")
      },
      Some("""WITH freq AS (
             |  SELECT tok, count(*) AS freq
             |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
             |        FROM documents)
             |  GROUP BY 1),
             |ranked AS (
             |  SELECT freq, CAST(row_number() OVER
             |      (ORDER BY freq DESC, tok) AS BIGINT) AS rank
             |  FROM freq)
             |SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS bucket,
             |  count(*) AS n_types,
             |  CAST(sum(freq) AS BIGINT) AS sum_freq,
             |  CAST(max(freq) AS BIGINT) AS max_freq,
             |  CAST(min(freq) AS BIGINT) AS min_freq
             |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- term dispersion across sources --------------------------
    // Burstiness detector: a term whose occurrences concentrate in one
    // source is template/boilerplate-suspect even when its corpus-wide
    // frequency looks normal. Per-term per-source shares in exact ppm
    // (integer DIV — both engines truncate toward zero), dispersion as
    // the exact integer S·Σx² − (Σx)² over ALL S sources (absent
    // sources contribute x = 0, so present-source sums suffice).
    // Magnitudes: x ≤ 1e6 ⇒ Σx² ≤ 20e12, ×S=20 ≪ 2⁶³. The source
    // count is an uncorrelated scalar subquery (q25's class — a
    // Subquery node, not a join).
    "t49_term_dispersion" -> QueryDef(
      (s, dir) => {
        table(s, dir, "documents").createOrReplaceTempView("graft_t49_docs")
        s.sql("""WITH words AS (
                |  SELECT source, explode(split(text, ' ')) AS tok
                |  FROM graft_t49_docs),
                |by_src AS (
                |  SELECT tok, source, count(*) AS c FROM words GROUP BY 1, 2),
                |tot AS (
                |  SELECT tok, CAST(sum(c) AS BIGINT) AS total_cnt,
                |    count(*) AS n_sources
                |  FROM by_src GROUP BY 1),
                |x AS (
                |  SELECT b.tok, t.total_cnt, t.n_sources,
                |    1000000 * b.c DIV t.total_cnt AS xs
                |  FROM by_src b JOIN tot t ON b.tok = t.tok
                |  WHERE t.total_cnt >= 50)
                |SELECT tok, total_cnt, n_sources,
                |  (SELECT count(DISTINCT source) FROM graft_t49_docs)
                |      * CAST(sum(xs * xs) AS BIGINT)
                |    - CAST(sum(xs) AS BIGINT) * CAST(sum(xs) AS BIGINT) AS disp
                |FROM x GROUP BY tok, total_cnt, n_sources
                |ORDER BY disp DESC, tok LIMIT 50""".stripMargin)
      },
      Some("""WITH words AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |by_src AS (
             |  SELECT tok, source, count(*) AS c FROM words GROUP BY 1, 2),
             |tot AS (
             |  SELECT tok, CAST(sum(c) AS BIGINT) AS total_cnt,
             |    count(*) AS n_sources
             |  FROM by_src GROUP BY 1),
             |x AS (
             |  SELECT b.tok, t.total_cnt, t.n_sources,
             |    (1000000 * b.c) // t.total_cnt AS xs
             |  FROM by_src b JOIN tot t ON b.tok = t.tok
             |  WHERE t.total_cnt >= 50)
             |SELECT tok, total_cnt, n_sources,
             |  CAST((SELECT count(DISTINCT source) FROM documents)
             |      * CAST(sum(xs * xs) AS BIGINT)
             |    - CAST(sum(xs) AS BIGINT) * CAST(sum(xs) AS BIGINT) AS BIGINT)
             |      AS disp
             |FROM x GROUP BY tok, total_cnt, n_sources
             |ORDER BY disp DESC, tok LIMIT 50""".stripMargin)),

    // ---- marginal source novelty ---------------------------------
    // The curation question behind every "should we ingest source X"
    // decision: processing sources in a fixed order, how many of a
    // source's distinct 3-grams are NOVEL (unseen in every earlier
    // source)? Computed without any pairwise join: ONE min-source
    // aggregation per gram (the first-seeing source), then a count per
    // source — vocabulary-bounded shuffles however large the corpus
    // (t37's first-occurrence shape, keyed by source instead of doc).
    "t50_source_novelty" -> QueryDef(
      (s, dir) => {
        val grams = table(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("text"))
          .select(col("source"),
            explode(TextOps.shingles(col("text"), 3)).as("g"))
          .distinct()
        val firstSrc = grams.groupBy("g").agg(min("source").as("first_src"))
        grams.groupBy("source").agg(count(lit(1)).as("n_distinct_grams"))
          .join(firstSrc.groupBy(col("first_src").as("source"))
            .agg(count(lit(1)).as("n_novel")), Seq("source"), "left")
          .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
          .withColumn("novel_permille",
            expr("1000 * n_novel DIV n_distinct_grams"))
          .orderBy("source")
      },
      Some(s"""WITH ${QueryDef.shingleCtes(3)},
             |sg AS (
             |  SELECT DISTINCT d.source, sh.s AS g
             |  FROM sh JOIN documents d USING (doc_id)),
             |fs AS (SELECT g, min(source) AS first_src FROM sg GROUP BY 1),
             |per AS (
             |  SELECT source, count(*) AS n_distinct_grams FROM sg GROUP BY 1),
             |nov AS (
             |  SELECT first_src AS source, count(*) AS n_novel FROM fs GROUP BY 1)
             |SELECT per.source, per.n_distinct_grams,
             |  coalesce(nov.n_novel, 0) AS n_novel,
             |  (1000 * coalesce(nov.n_novel, 0)) // per.n_distinct_grams
             |    AS novel_permille
             |FROM per LEFT JOIN nov ON per.source = nov.source
             |ORDER BY per.source""".stripMargin)),

    // ---- classifier calibration bins -----------------------------
    // Model-eval infrastructure for the quality filter: rank-decile
    // the t20 model's integer scores and, per decile, count how many
    // docs the independent C4 stopword rule (t2's gold proxy) marks
    // positive — the reliability-diagram table behind every threshold
    // choice. Score deciles replicate ntile(10) with doc_id tiebreak
    // EXACTLY (both engines split ties identically) but WITHOUT the
    // no-partitionBy ntile window (which ranks every scored document
    // in one task): rank r comes from the two-level prefix sum
    // (RankStats.rowNumberByValue), then the ntile bucket arithmetic
    // — the first n%10 tiles take ceil(n/10) rows, the rest floor(n/10)
    // — maps r to the identical decile. Rates are exact permille.
    "t51_calibration" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val score = graft.operators.QualityModel.score(
          docs, "doc_id", "text",
          graft.operators.QualityModel.syntheticWeights(s, 4096), buckets = 4096)
          .select(col("doc_id"), col("score"))
        val gold = docs.select(col("doc_id"),
          when(TextOps.stopwordPermille(col("text")) >= 10, 1L).otherwise(0L)
            .as("pos"))
        // staged WITH lineage truncation: the scoring pipeline feeds
        // the two rank histograms, the join-back and the row count —
        // each would otherwise re-analyze the 4096-bucket scoring
        // lineage (~50 KB plan, measured r14)
        val scored = Staged.checkpointed(s, s"t51scored:$dir") {
          score.join(gold, "doc_id")
        }
        val n = scored.count()
        graft.operators.RankStats
          .rowNumberByValue(scored, "score", "doc_id", "__r")
          .withColumn("decile",
            expr(graft.operators.RankStats.ntileExprFromRank("__r", n, 10)))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
          .withColumn("pos_permille", expr("1000 * n_pos DIV n"))
          .orderBy("decile")
      },
      Some(s"""WITH $qualityModelCtes,
             |qs AS (
             |  SELECT doc_id, CAST(sum(wgt) AS BIGINT) AS score
             |  FROM fb JOIN wt USING (bucket) GROUP BY doc_id),
             |gold AS (
             |  SELECT doc_id, CASE WHEN floor(1000.0 * len(list_filter(
             |      string_split(text, ' '), x -> x IN
             |      ('the','a','of','and','to','in','is','it')))
             |      / len(string_split(text, ' '))) >= 10
             |    THEN 1 ELSE 0 END AS pos
             |  FROM documents),
             |r AS (
             |  SELECT q.doc_id, g.pos,
             |    ntile(10) OVER (ORDER BY q.score DESC, q.doc_id) AS decile
             |  FROM qs q JOIN gold g USING (doc_id))
             |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
             |  CAST(sum(pos) AS BIGINT) AS n_pos,
             |  (1000 * CAST(sum(pos) AS BIGINT)) // count(*) AS pos_permille
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Content-policy audit: a categorized term list (the dimension
    // table every safety/compliance filter ships) scanned over the
    // corpus — per category, documents flagged at >= 3 hits and total
    // occurrences; plus the category CO-OCCURRENCE matrix (docs
    // flagged for BOTH of a pair — the signal that drives combined-
    // category policies). Long-format (kind, name) output keeps the
    // two report sections in one table. Shape: the term list joins as
    // a broadcast dimension; the per-(doc, cat) contraction happens
    // before any self-join, so the pair join fans out over ≤|cats|
    // rows per doc, never tokens.
    "t52_policy_audit" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val terms = Seq(
          "scan" -> "exec", "filter" -> "exec", "sort" -> "exec",
          "merge" -> "exec",
          "row" -> "storage", "column" -> "storage", "table" -> "storage",
          "batch" -> "storage",
          "hash" -> "compute", "join" -> "compute", "agg" -> "compute",
          "window" -> "compute")
        val termDf = terms.toDF("w", "cat")
        val tok = table(s, dir, "documents")
          .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
          .filter(col("w").isInCollection(terms.map(_._1)))
        val flagged = tok.join(broadcast(termDf), "w")
          .groupBy("doc_id", "cat").agg(count(lit(1)).as("hits"))
          .filter(col("hits") >= 3)
        val catReport = flagged.groupBy("cat")
          .agg(count(lit(1)).as("n_docs"), sum("hits").as("n_hits"))
          .select(lit("cat").as("kind"), col("cat").as("name"),
            col("n_docs"), col("n_hits"))
        val pairReport = flagged.as("a")
          .join(flagged.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.cat") < col("b.cat"))
          .groupBy(concat_ws("|", col("a.cat"), col("b.cat")).as("name"))
          .agg(count(lit(1)).as("n_docs"))
          .select(lit("pair").as("kind"), col("name"), col("n_docs"),
            lit(0L).as("n_hits"))
        catReport.union(pairReport).orderBy("kind", "name")
      },
      Some("""WITH t(w, cat) AS (VALUES
             |    ('scan','exec'), ('filter','exec'), ('sort','exec'),
             |    ('merge','exec'),
             |    ('row','storage'), ('column','storage'), ('table','storage'),
             |    ('batch','storage'),
             |    ('hash','compute'), ('join','compute'), ('agg','compute'),
             |    ('window','compute')),
             |tok AS (SELECT doc_id, u.w
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
             |        FROM documents), UNNEST(ws) AS u(w)),
             |fl AS (SELECT doc_id, cat, count(*) AS hits
             |  FROM tok JOIN t USING (w) GROUP BY 1, 2
             |  HAVING count(*) >= 3),
             |catr AS (SELECT 'cat' AS kind, cat AS name,
             |    count(*) AS n_docs, CAST(sum(hits) AS BIGINT) AS n_hits
             |  FROM fl GROUP BY 2),
             |pr AS (SELECT 'pair' AS kind, a.cat || '|' || b.cat AS name,
             |    count(*) AS n_docs, CAST(0 AS BIGINT) AS n_hits
             |  FROM fl a JOIN fl b ON a.doc_id = b.doc_id AND a.cat < b.cat
             |  GROUP BY 2)
             |SELECT kind, name, n_docs, n_hits FROM catr
             |UNION ALL SELECT kind, name, n_docs, n_hits FROM pr
             |ORDER BY 1, 2""".stripMargin))
  )
}
