package graft.gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.TextAnalysis

/** Text analysis and cleaning: per-document stats, language id, line
  * filters, normalization, HTML/URL extraction, dictionary scans,
  * line/paragraph dedup, PII redaction and term statistics.
  */
private[graft] object TextGates {

  /** The q_url_normalize gate's dirty-URL construction — engine-neutral
    * SQL passed VERBATIM to both Spark's `expr()` and the DuckDB oracle,
    * so the two engines build the identical string by construction.
    */
  private val UrlGateCase: String =
    """CASE CAST(doc_id % 9 AS INT)
      |  WHEN 0 THEN 'HTTP://WWW.Example.COM:80/path/' || doc_id || '?utm_source=x&b=2&a=1#frag'
      |  WHEN 1 THEN 'https://news.example.co.uk:443/a%20b?z=1&utm_campaign=c&y=' || (doc_id % 5)
      |  WHEN 2 THEN 'https://' || source || '.example.org/docs/' || doc_id
      |  WHEN 3 THEN 'http://sub.domain.example.net:8080/x?fbclid=abc' || doc_id
      |  WHEN 4 THEN 'not a url ' || doc_id
      |  WHEN 5 THEN 'ftp://files.example.com/pub/' || doc_id || '.dat'
      |  WHEN 6 THEN 'https://Example.com?only=' || doc_id || '&only=' || doc_id
      |  WHEN 7 THEN 'http://localhost:' || (8000 + doc_id % 100) || '/h?ref=x&p=1'
      |  ELSE 'https://a.b.example.gov.au/deep/' || doc_id || '?utm_x=1&utm_y=2'
      |END""".stripMargin

  /** The q_url_dedup gate's construction: collisions are CREATED BY
    * normalization — case/port/tracking/param-order/fragment variants of
    * the same canonical URL (arms 0 and 1 normalize identically), plus a
    * malformed arm the dedup must drop.
    */
  private val UrlDedupCase: String =
    """CASE CAST(doc_id % 4 AS INT)
      |  WHEN 0 THEN 'HTTP://WWW.Example.COM:80/item/' || (doc_id % 25) || '?b=2&a=1&utm_source=' || doc_id
      |  WHEN 1 THEN 'http://www.example.com/item/' || (doc_id % 25) || '?a=1&utm_medium=m&b=2#sec' || doc_id
      |  WHEN 2 THEN 'https://' || source || '.shop.example.org/p?x=' || (doc_id % 10)
      |  ELSE 'not a url ' || doc_id
      |END""".stripMargin

  /** url_parts oracle replay, shared by q_url_normalize and q_url_dedup:
    * the anchored parse regex via regexp_extract, authority split on the
    * last ':' + 1..18-digit suffix (the lazy-group backtracking),
    * public-suffix-lite via negative list indexing, param filter/sort via
    * list ops. Ends defining `norm` (doc_id, scheme, host, port,
    * reg_domain, n_params, url_norm — all NULL when the parse regex
    * rejects).
    */
  private def urlNormChainSql(urlCase: String): String =
    raw"""WITH u AS (
       |  SELECT doc_id,
       |    $urlCase AS url
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, url,
       |    regexp_matches(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$$') AS ok,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$$', 1)) AS scheme,
       |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$$', 2) AS auth,
       |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$$', 3) AS path_raw,
       |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$$', 4) AS q_raw
       |  FROM u
       |), hp AS (
       |  SELECT *,
       |    CASE WHEN regexp_matches(auth, '^(.*?):([0-9]{1,18})$$')
       |         THEN lower(regexp_extract(auth, '^(.*?):([0-9]{1,18})$$', 1))
       |         ELSE lower(auth) END AS host,
       |    CASE WHEN regexp_matches(auth, '^(.*?):([0-9]{1,18})$$')
       |         THEN CAST(regexp_extract(auth, '^(.*?):([0-9]{1,18})$$', 2) AS BIGINT)
       |         END AS port
       |  FROM m
       |), q AS (
       |  SELECT *, string_split(host, '.') AS labels,
       |    list_sort(list_filter(string_split(substr(q_raw, 2), '&'),
       |      p -> p <> '' AND NOT starts_with(string_split(p, '=')[1], 'utm_')
       |        AND string_split(p, '=')[1] NOT IN ('gclid','fbclid','ref','msclkid'))) AS kept
       |  FROM hp
       |), norm AS (
       |  SELECT doc_id,
       |    CASE WHEN ok THEN scheme END AS scheme,
       |    CASE WHEN ok THEN host END AS host,
       |    CASE WHEN ok THEN port END AS port,
       |    CASE WHEN ok THEN
       |      CASE WHEN len(labels) >= 3 AND length(labels[-1]) = 2
       |                AND labels[-2] IN ('co','com','net','org','ac','gov','edu')
       |           THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
       |           WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
       |           ELSE host END
       |    END AS reg_domain,
       |    CASE WHEN ok THEN CAST(len(kept) AS BIGINT) END AS n_params,
       |    CASE WHEN ok THEN
       |      scheme || '://' || host ||
       |      CASE WHEN port IS NOT NULL AND NOT ((scheme = 'http' AND port = 80)
       |                OR (scheme = 'https' AND port = 443))
       |           THEN ':' || port ELSE '' END ||
       |      CASE WHEN path_raw = '' THEN '/' ELSE path_raw END ||
       |      CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
       |    END AS url_norm
       |  FROM q
       |)""".stripMargin

  /** The line-level gates' split: one row per line of `m` (doc_id, t),
    * with its 1-based position. Defines `l` (doc_id, line, ord).
    */
  private val LinesCte =
    """l AS (
      |  SELECT doc_id,
      |    unnest(string_split(t, chr(10))) AS line,
      |    generate_subscripts(string_split(t, chr(10)), 1) AS ord
      |  FROM m
      |)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_text_stats", (s, dir) => {
      TextAnalysis.docStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]')) AS BIGINT) AS n_bpe_tokens,
        |    CAST(len(list_filter(toks, t -> t IN
        |      ('the','a','an','of','and','to','in','is','on','for','with'))) AS BIGINT) AS n_stopwords,
        |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS mean_token_len,
        |    CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?''"]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio
        |  FROM w
        |)
        |SELECT doc_id, n_tokens, n_bpe_tokens, n_stopwords, mean_token_len, punct_ratio, digit_ratio,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + (1.0 - punct_ratio) * 0.2
        |    + (1.0 - digit_ratio) * 0.2
        |    + least((CAST(n_stopwords AS DOUBLE) / n_tokens) * 4.0, 1.0) * 0.2 AS quality
        |FROM s
        |ORDER BY doc_id""".stripMargin),

    // ---- Language ID heuristic ---------------------------------------
    Gate("q_text_langid", (s, dir) => {
      TextAnalysis.docLangId(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH sc AS (
        |  SELECT doc_id,
        |    len(list_filter(w, t -> t IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(w, t -> t IN ('the','a','of','and','is'))) AS s_en,
        |    len(list_filter(w, t -> t IN ('el','la','de','y','es'))) AS s_es,
        |    len(list_filter(w, t -> t IN ('le','la','de','et','est'))) AS s_fr,
        |    len(list_filter(w, t -> t IN ('的','是','了','在','我'))) AS s_zh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |       WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM sc
        |ORDER BY doc_id""".stripMargin),

    // ---- Document fingerprint (normalized content hash) ---------------
    Gate("q_text_fingerprint", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  md5(regexp_replace(trim(regexp_replace(lower(text), '[\.,;:!\?''"]', '', 'g')), '\s+', ' ', 'g')) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // ---- C4-style line-quality filter (fused single-pass expression) --
    // The synthetic docs are single-line, so the gate derives a multi-line
    // corpus with literal (engine-portable) replaces: one common token
    // becomes the line separator, another grows terminal punctuation.
    // Both punct modes gated; counts exact, clean text compared via md5.
    Gate("q_filter_lines", (s, dir) => {
      import graft.functions.FilterLines
      val multi = replace(
        replace(col("text"), lit(" merge "), lit("\n")), lit("scan"), lit("scan."))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          FilterLines(multi, 3, Seq("slow", "dup"), requireTerminalPunct = false).as("__a"),
          FilterLines(multi, 3, Seq("slow", "dup"), requireTerminalPunct = true).as("__b"))
        .select(
          col("doc_id"),
          col("__a.n_lines").as("n_lines"),
          col("__a.n_kept").as("n_kept"),
          md5(col("__a.clean_text")).as("clean_md5"),
          col("__b.n_kept").as("n_kept_punct"),
          md5(col("__b.clean_text")).as("clean_punct_md5"))
        .orderBy("doc_id")
    },
      raw"""WITH m AS (
           |  SELECT doc_id,
           |    replace(replace(text, ' merge ', chr(10)), 'scan', 'scan.') AS t
           |  FROM documents
           |), $LinesCte, k AS (
           |  SELECT doc_id, ord, line,
           |    len(list_filter(string_split_regex(line, '[ \t\x0b\f\r]+'),
           |        w -> w <> '')) AS nw,
           |    list_has_any(string_split_regex(line, '[ \t\x0b\f\r]+'),
           |        ['slow', 'dup']) AS banned,
           |    right(regexp_replace(line, '[ \t\x0b\f\r]+$$', ''), 1) AS lastc
           |  FROM l
           |)
           |SELECT doc_id,
           |  count(*) AS n_lines,
           |  count(*) FILTER (WHERE nw >= 3 AND NOT banned) AS n_kept,
           |  md5(coalesce(string_agg(line, chr(10) ORDER BY ord)
           |      FILTER (WHERE nw >= 3 AND NOT banned), '')) AS clean_md5,
           |  count(*) FILTER (WHERE nw >= 3 AND NOT banned
           |      AND lastc IN ('.', '!', '?', '"')) AS n_kept_punct,
           |  md5(coalesce(string_agg(line, chr(10) ORDER BY ord)
           |      FILTER (WHERE nw >= 3 AND NOT banned
           |        AND lastc IN ('.', '!', '?', '"')), '')) AS clean_punct_md5
           |FROM k
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),

    // ---- Unicode NFC normalization (canonical-composition cleaning
    //      pass; utf8proc and java.text.Normalizer both implement
    //      UAX #15, so the output is byte-identical). The ASCII corpus
    //      is decomposed in-query (every 'e' grows a combining acute,
    //      U+0301) so the fold is exercised; NFC over the RAW text must
    //      be the identity ------------------------------------------
    Gate("q_nfc", (s, dir) => {
      import graft.functions.NfcNormalize
      val accented = replace(col("text"), lit("e"), lit("e\u0301"))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          md5(NfcNormalize(accented)).as("norm_md5"),
          (NfcNormalize(accented) =!= accented).as("changed"),
          (NfcNormalize(col("text")) === col("text")).as("raw_identity"))
        .orderBy("doc_id")
    },
      """WITH a AS (
        |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS acc, text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  md5(nfc_normalize(acc)) AS norm_md5,
        |  nfc_normalize(acc) <> acc AS changed,
        |  nfc_normalize(text) = text AS raw_identity
        |FROM a
        |ORDER BY doc_id""".stripMargin),

    // ---- Per-doc token-distribution Shannon entropy (the gibberish /
    //      keyword-stuffing quality signal): ONE fused map-only pass
    //      (open-addressing count map per doc, no explode/shuffle) vs
    //      the oracle's explode → per-token count → join + agg. Exact
    //      via the PlatformLn recipe: per-term q9(ln(c/n)) quantized
    //      BEFORE the sum, so the sum is an exact integer ---------------
    Gate("q_text_entropy", (s, dir) => {
      import graft.functions.TokenEntropy
      Tables.documents(s, dir)
        .select(col("doc_id"), TokenEntropy(col("text")).as("__e"))
        .select(
          col("doc_id"),
          col("__e.n_tokens").as("n_tokens"),
          col("__e.n_distinct").as("n_distinct"),
          col("__e.entropy").as("entropy"))
        .orderBy("doc_id")
    },
      // token-distribution entropy, relational form: explode → per-token
      // count → per-doc totals join. Per-occurrence q9(ln(c/n)) quantized
      // to integers BEFORE the sum (the PlatformLn recipe), grouped as
      // c·q9(ln(c/n)) per distinct token — identical arithmetic to the
      // fused expression's count-map fold
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), u AS (
        |  SELECT doc_id, unnest(toks) AS tok FROM w
        |), c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2
        |), n AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS nd
        |  FROM c GROUP BY 1
        |)
        |SELECT c.doc_id, n.n AS n_tokens, n.nd AS n_distinct,
        |  -(CAST(sum(cnt * CAST(floor(
        |      ln(CAST(cnt AS DOUBLE) / n.n) * 1000000000.0 + 0.5) AS BIGINT))
        |    AS DOUBLE) / n.n) / 1000000000.0 AS entropy
        |FROM c JOIN n USING (doc_id)
        |GROUP BY c.doc_id, n.n, n.nd
        |ORDER BY doc_id""".stripMargin),

    // ---- HTML → text extraction (C4/CCNet boilerplate strip). The
    //      corpus is wrapped in deterministic markup IN-QUERY (both
    //      engines build the identical string): title/style/comment/
    //      attribute tags, entity-encoded body (sequential literal
    //      replaces — 'a'→'&lt;i&gt;' decodes to literal '<i>' AFTER tag
    //      stripping, pinning the pass order), an UNCLOSED <script> every
    //      13th doc (falls through the block pass, loses only its tag),
    //      and a bare '1<2' every 11th (the tag pass eats to the next
    //      '>'). One fused map-only expression vs the oracle's
    //      regexp_replace + replace chain ------------------------------
    Gate("q_html_extract", (s, dir) => {
      import graft.functions.HtmlExtract
      val html = concat(
        lit("<html><head><title>doc "), col("doc_id"),
        lit("</title><style>p{margin:"), col("doc_id") % 7,
        lit("px}</style></head><body><!-- id "), col("doc_id"),
        lit(" --><h1 class=\"t\">"), col("source"),
        lit("</h1><p data-k=\"v\">"),
        expr("replace(replace(text, 'a', '&lt;i&gt;'), 'e', '&amp;')"),
        lit("</p>"),
        when(col("doc_id") % 13 === 0, lit("<script>var x=unclosed"))
          .otherwise(lit("<script type=\"text/javascript\">var id=1;</script>")),
        when(col("doc_id") % 11 === 0, lit(" 1<2 ")).otherwise(lit("")),
        lit("</body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), HtmlExtract(html).as("clean"))
        .select(
          col("doc_id"),
          md5(col("clean")).as("clean_md5"),
          length(col("clean")).cast("long").as("n_chars_clean"))
        .orderBy("doc_id")
    },
      // html_extract replayed as the contract's literal pass chain:
      // script/style/comment block drops, tags → one space, sequential
      // literal entity replaces, explicit-ASCII whitespace collapse, trim.
      // The markup wrapper is built identically to the Spark side
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc ' || doc_id || '</title><style>p{margin:'
        |    || (doc_id % 7) || 'px}</style></head><body><!-- id ' || doc_id
        |    || ' --><h1 class="t">' || source || '</h1><p data-k="v">'
        |    || replace(replace(text, 'a', '&lt;i&gt;'), 'e', '&amp;') || '</p>'
        |    || CASE WHEN doc_id % 13 = 0 THEN '<script>var x=unclosed'
        |            ELSE '<script type="text/javascript">var id=1;</script>' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' 1<2 ' ELSE '' END
        |    || '</body></html>' AS html
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(html, '<script[^>]*>.*?</script>', '', 'gs'),
        |              '<style[^>]*>.*?</style>', '', 'gs'),
        |            '<!--.*?-->', '', 'gs'),
        |          '<[^>]*>', ' ', 'gs'),
        |        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '),
        |      '[ \t\n\r\f]+', ' ', 'g')) AS clean
        |  FROM h
        |)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |       length(clean) AS n_chars_clean
        |FROM c ORDER BY doc_id""".stripMargin),

    // ---- URL parsing + canonicalization (the FIRST pass of a web
    //      pipeline: URL-level dedup + registered-domain extraction).
    //      Dirty URLs are built in-query (both engines construct the
    //      identical string): mixed-case scheme/host, default and
    //      explicit ports, tracking params, unsorted params, fragments,
    //      an empty path, a single-label host, a co.uk-style suffix and
    //      a malformed row every 9th doc (null struct). One fused
    //      map-only expression vs the oracle's regexp_extract + list-op
    //      replay of the same contract ---------------------------------
    Gate("q_url_normalize", (s, dir) => {
      import graft.functions.UrlParts
      Tables.documents(s, dir)
        .select(col("doc_id"), UrlParts(expr(UrlGateCase)).as("__u"))
        .select(
          col("doc_id"),
          col("__u.scheme").as("scheme"),
          col("__u.host").as("host"),
          col("__u.port").as("port"),
          col("__u.reg_domain").as("reg_domain"),
          col("__u.n_params").as("n_params"),
          col("__u.url_norm").as("url_norm"))
        .orderBy("doc_id")
    },
      // url_parts replayed relationally through the shared normalization
      // chain (urlNormChainSql) over the shared UrlGateCase construction
      s"""${urlNormChainSql(UrlGateCase)}
         |SELECT doc_id, scheme, host, port, reg_domain, n_params, url_norm
         |FROM norm ORDER BY doc_id""".stripMargin),

    // ---- URL-level dedup (the web pipeline's FIRST dedup pass, riding
    //      url_parts): the gate's collisions are CREATED by
    //      canonicalization — case/port/tracking/param-order/fragment
    //      variants of one canonical URL (arms 0 and 1 normalize
    //      identically), malformed rows dropped. Map-side-combined
    //      groupBy on the SHORT canonical string — corpus text never
    //      shuffles ------------------------------------------------------
    Gate("q_url_dedup", (s, dir) => {
      import graft.functions.UrlParts
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          UrlParts(expr(UrlDedupCase)).getField("url_norm").as("url_norm"))
        .filter(col("url_norm").isNotNull)
        .groupBy("url_norm")
        .agg(
          min("doc_id").as("canonical_id"),
          count(lit(1)).as("n_dupes"))
        .orderBy("canonical_id")
    },
      // URL-level dedup over the same chain: group by the canonical string,
      // min doc id is the survivor, malformed (NULL url_norm) rows dropped
      s"""${urlNormChainSql(UrlDedupCase)}
         |SELECT url_norm, min(doc_id) AS canonical_id,
         |       CAST(count(*) AS BIGINT) AS n_dupes
         |FROM norm WHERE url_norm IS NOT NULL
         |GROUP BY url_norm
         |ORDER BY canonical_id""".stripMargin),

    // ---- Multi-pattern dictionary scan (Aho–Corasick): one pass over
    //      the text regardless of dictionary size. The dictionary is
    //      chosen to exercise the automaton's hard paths ON REAL DATA:
    //      "a" is a suffix of "a a" (fail-link output fold), "a a" is
    //      self-overlapping with period 2 ("a a a" occurs in the corpus
    //      → overlapping count > non-overlapping), and "scan slow" spans
    //      a word boundary. Oracle counts overlapping occurrences by
    //      brute-force position scan — O(len·|dict|), fine at sf0.01 ----
    Gate("q_dict_scan", (s, dir) => {
      import graft.functions.DictScan
      val dict = Seq("a", "a a", "scan slow", "table", "agg")
      // second dictionary without the ubiquitous "a": first_term varies
      // per document instead of collapsing to one champion
      val dict2 = Seq("scan slow", "table", "agg", "window", "merge")
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          DictScan(col("text"), dict).as("__d"),
          DictScan(col("text"), dict2).as("__e"))
        .select(
          col("doc_id"),
          col("__d.n_terms_present").as("n_terms_present"),
          col("__d.n_hits").as("n_hits"),
          col("__d.first_term").as("first_term"),
          col("__e.n_terms_present").as("n2_present"),
          col("__e.n_hits").as("n2_hits"),
          col("__e.first_term").as("first_term2"))
        .orderBy("doc_id")
    },
      // dict_scan semantics in portable SQL: presence via contains;
      // n_hits = OVERLAPPING occurrences (brute-force position scan, so
      // the self-overlapping "a a" term is counted exactly as the
      // automaton does); first_term = present term whose first match END
      // (instr + len - 1) is smallest, ties → longer term, then
      // lexicographic — encoded as a struct sort (e asc, nl asc, t asc)
      """WITH d AS (
        |  SELECT doc_id, text,
        |    ['a', 'a a', 'scan slow', 'table', 'agg'] AS dict,
        |    ['scan slow', 'table', 'agg', 'window', 'merge'] AS dict2
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len(list_filter(dict, t -> contains(text, t))) AS n_terms_present,
        |  CAST(list_sum(list_transform(dict, t ->
        |    len(list_filter(
        |      generate_series(1, greatest(length(text) - length(t) + 1, 0)),
        |      i -> substr(text, i::int, length(t)) = t)))) AS BIGINT) AS n_hits,
        |  list_sort(list_transform(list_filter(dict, t -> contains(text, t)),
        |    t -> {'e': instr(text, t) + length(t) - 1,
        |          'nl': -length(t), 't': t}))[1].t AS first_term,
        |  len(list_filter(dict2, t -> contains(text, t))) AS n2_present,
        |  CAST(list_sum(list_transform(dict2, t ->
        |    len(list_filter(
        |      generate_series(1, greatest(length(text) - length(t) + 1, 0)),
        |      i -> substr(text, i::int, length(t)) = t)))) AS BIGINT) AS n2_hits,
        |  list_sort(list_transform(list_filter(dict2, t -> contains(text, t)),
        |    t -> {'e': instr(text, t) + length(t) - 1,
        |          'nl': -length(t), 't': t}))[1].t AS first_term2
        |FROM d
        |ORDER BY doc_id""".stripMargin),

    // ---- Corpus-GLOBAL line dedup (C4 semantic: first copy survives) --
    //      same derived multi-line corpus as q_filter_lines; clean text
    //      compared via md5 (the FilterLines gate convention) -----------
    Gate("q_line_dedup", (s, dir) => {
      import graft.pipeline.Lines
      val multi = Tables.documents(s, dir).select(
        col("doc_id"),
        replace(col("text"), lit(" merge "), lit("\n")).as("text"))
      Lines.dedupLines(multi, "doc_id", "text")
        .select(
          col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
      s"""WITH m AS (
         |  SELECT doc_id, replace(text, ' merge ', chr(10)) AS t FROM documents
         |), $LinesCte, k AS (
         |  SELECT doc_id, ord, line,
         |    CASE WHEN length(trim(line)) >= 1
         |         THEN row_number() OVER (
         |                PARTITION BY CASE WHEN length(trim(line)) >= 1 THEN line END
         |                ORDER BY doc_id, ord) = 1
         |         ELSE TRUE END AS keep
         |  FROM l
         |)
         |SELECT doc_id,
         |  count(*) AS n_lines,
         |  count(*) FILTER (WHERE keep) AS n_kept,
         |  md5(coalesce(string_agg(line, chr(10) ORDER BY ord)
         |      FILTER (WHERE keep), '')) AS clean_md5
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- Paragraph-granularity dedup (MassiveText repeated-paragraph
    //      rule): same corpus-first machinery, sep = blank line. The
    //      derived corpus turns " sort " into a paragraph break and
    //      " merge " into a line break, so paragraphs are multi-line ----
    Gate("q_para_dedup", (s, dir) => {
      import graft.pipeline.Lines
      val multi = Tables.documents(s, dir).select(
        col("doc_id"),
        replace(
          replace(col("text"), lit(" sort "), lit("\n\n")),
          lit(" merge "), lit("\n")).as("text"))
      Lines.dedupLines(multi, "doc_id", "text", minChars = 1, sep = "\n\n")
        .select(
          col("doc_id"), col("n_lines").as("n_paras"),
          col("n_kept"), md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
      // paragraph granularity: split/rejoin on the blank line
      // (chr(10)||chr(10)); the rule is identical at span scope
      """WITH m AS (
        |  SELECT doc_id,
        |    replace(replace(text, ' sort ', chr(10) || chr(10)),
        |            ' merge ', chr(10)) AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10) || chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10) || chr(10)), 1) AS ord
        |  FROM m
        |), k AS (
        |  SELECT doc_id, ord, line,
        |    CASE WHEN length(trim(line)) >= 1
        |         THEN row_number() OVER (
        |                PARTITION BY CASE WHEN length(trim(line)) >= 1 THEN line END
        |                ORDER BY doc_id, ord) = 1
        |         ELSE TRUE END AS keep
        |  FROM l
        |)
        |SELECT doc_id,
        |  count(*) AS n_paras,
        |  count(*) FILTER (WHERE keep) AS n_kept,
        |  md5(coalesce(string_agg(line, chr(10) || chr(10) ORDER BY ord)
        |      FILTER (WHERE keep), '')) AS clean_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- Boilerplate-line removal (every copy of a hot line dropped) --
    Gate("q_line_boilerplate", (s, dir) => {
      import graft.pipeline.Lines
      val multi = Tables.documents(s, dir).select(
        col("doc_id"),
        replace(col("text"), lit(" merge "), lit("\n")).as("text"))
      Lines.boilerplateLines(multi, "doc_id", "text", maxOccurrences = 3)
        .select(
          col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
      s"""WITH m AS (
         |  SELECT doc_id, replace(text, ' merge ', chr(10)) AS t FROM documents
         |), $LinesCte, c AS (
         |  SELECT line, count(*) AS cnt FROM l
         |  WHERE length(trim(line)) >= 1 GROUP BY line
         |), k AS (
         |  SELECT l.doc_id, l.ord, l.line,
         |    CASE WHEN length(trim(l.line)) >= 1 THEN coalesce(c.cnt, 0) <= 3
         |         ELSE TRUE END AS keep
         |  FROM l LEFT JOIN c USING (line)
         |)
         |SELECT doc_id,
         |  count(*) AS n_lines,
         |  count(*) FILTER (WHERE keep) AS n_kept,
         |  md5(coalesce(string_agg(line, chr(10) ORDER BY ord)
         |      FILTER (WHERE keep), '')) AS clean_md5
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- Composed corpus-cleaning pipeline: ONE TextProfile pass per
    //      document drives lang-id + quality scoring, fused fingerprint
    //      drives exact dedup — the whole training-data cleaning flow as
    //      one declarative plan (filter -> canonicalize), hash-checked
    Gate("q_pipeline_clean", (s, dir) => {
      import graft.functions.TextProfile
      val docs = Tables.documents(s, dir)
      // groupBy(doc_id) is an AGGREGATION BARRIER, not a dedup: filters
      // on derived columns cannot be alias-substituted through it, so the
      // profile is evaluated ONCE per document — a plain projection let
      // PushDownPredicates inline text_profile into every reference
      // (101 evals/row measured; EntrySpec asserts the count stays 1)
      val p = docs.groupBy(col("doc_id")).agg(
        first(TextProfile(col("text"))).as("__p"),
        first(TextAnalysis.fingerprint(col("text"))).as("fp"))
      p.select(
          col("doc_id"), col("fp"),
          TextAnalysis.langPredOf(col("__p")).as("lang_pred"),
          TextAnalysis.qualityOf(col("__p")).as("quality"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
        .groupBy("fp")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "fp", "n_copies")
        .orderBy("doc_id")
    },
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, text, toks,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','is'))) AS s_en,
        |    len(list_filter(toks, t -> t IN ('el','la','de','y','es'))) AS s_es,
        |    len(list_filter(toks, t -> t IN ('le','la','de','et','est'))) AS s_fr,
        |    len(list_filter(toks, t -> t IN ('的','是','了','在','我'))) AS s_zh
        |  FROM w
        |), q AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(trim(regexp_replace(lower(text), '[\.,;:!\?''"]', '', 'g')), '\s+', ' ', 'g')) AS fp,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |         WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |         WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
        |         WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |         WHEN s_fr >= s_zh THEN 'fr'
        |         ELSE 'zh' END AS lang_pred,
        |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + (1.0 - CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?''"]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
        |      + (1.0 - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
        |      + least((CAST(len(list_filter(toks, t -> t IN
        |          ('the','a','an','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |          / len(toks)) * 4.0, 1.0) * 0.2 AS quality
        |  FROM sc
        |)
        |SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
        |FROM q
        |WHERE lang_pred = 'en' AND quality >= 0.5
        |GROUP BY fp
        |ORDER BY doc_id""".stripMargin),

    // ---- PII scan + redaction. The corpus is PII-free by construction
    //      (a GOOD corpus property this gate would catch regressing), so
    //      the scan runs on a contact line derived deterministically from
    //      events row ids — giving every pattern true positives whose
    //      counts and redacted text hash-check regex parity across
    //      engines; aggregated per event_type to keep the output small
    Gate("q_pii_scan", (s, dir) => {
      // tsEvents (not raw load): it sets the nanos-parquet conf; stream_id
      // is the raw table's user_id
      val ev = Tables.tsEvents(s, dir)
      val line = concat(
        lit("uid "), col("stream_id"),
        lit(" mail u"), col("stream_id"), lit("@example.com ip 10.0."),
        col("stream_id") % 256, lit("."), col("event_id") % 256,
        lit(" tel +64"), lit(4000000) + col("event_id") % 1000000,
        lit(" acct "), lit(9000000) + col("event_id"),
        lit(" "), col("props"))
      TextAnalysis.piiScan(
          ev.select(col("event_type"), line.as("text")), "event_type", "text")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum("n_emails").as("emails"),
          sum("n_ipv4").as("ipv4s"),
          sum("n_phones").as("phones"),
          sum("n_idnums").as("idnums"),
          // min over a STRING: the builtin's var-length buffer forced the
          // whole 6-function aggregate to SortAggregate (both levels
          // sorting their full input). MinUtf8 is the typed-imperative
          // twin — same binary-collation minimum (spec-pinned against
          // min() itself), but the operator becomes ObjectHashAggregate:
          // no sort on either level (guide: expressions and codegen)
          graft.functions.MinUtf8(col("redacted")).as("redacted_min"))
        .orderBy("event_type")
    },
      """WITH l AS (
        |  SELECT event_type,
        |    'uid ' || user_id || ' mail u' || user_id || '@example.com ip 10.0.' ||
        |    (user_id % 256) || '.' || (event_id % 256) || ' tel +64' ||
        |    (4000000 + event_id % 1000000) || ' acct ' || (9000000 + event_id) || ' ' || props AS text
        |  FROM events
        |), p AS (
        |  SELECT event_type,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
        |    CAST(len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS BIGINT) AS n_phones,
        |    CAST(len(regexp_extract_all(text, '\b[0-9]{6,}\b')) AS BIGINT) AS n_idnums,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
        |      '\+[0-9]{7,15}', '[PHONE]', 'g'),
        |      '\b[0-9]{6,}\b', '[ID]', 'g') AS redacted
        |  FROM l
        |)
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(n_emails) AS BIGINT) AS emails,
        |       CAST(sum(n_ipv4) AS BIGINT) AS ipv4s,
        |       CAST(sum(n_phones) AS BIGINT) AS phones,
        |       CAST(sum(n_idnums) AS BIGINT) AS idnums,
        |       min(redacted) AS redacted_min
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- Repetition quality stats (Gopher-style, word 2-grams) --------
    Gate("q_text_repetition", (s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text", 2)
        .orderBy("doc_id")
    },
      """WITH g AS (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), c AS (
        |  SELECT doc_id, s, count(*) AS c FROM g GROUP BY 1, 2
        |), a AS (
        |  SELECT doc_id, sum(c) AS t, max(c) AS mx,
        |         coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) AS d
        |  FROM c GROUP BY 1
        |)
        |SELECT doc_id, CAST(mx AS DOUBLE) / t AS top_ngram_frac,
        |       CAST(d AS DOUBLE) / t AS dup_ngram_frac
        |FROM a ORDER BY doc_id""".stripMargin),

    // ---- Heavy hitters: global top-k vocabulary terms -----------------
    Gate("q_top_terms", (s, dir) => {
      TextAnalysis.topTerms(Tables.documents(s, dir), "text", 50)
    },
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents
        |)
        |SELECT term, count(*) AS cnt FROM tok
        |WHERE term <> ''
        |GROUP BY term
        |ORDER BY cnt DESC, term
        |LIMIT 50""".stripMargin),

    // ---- Corpus card: per-source dataset-documentation summary -------
    Gate("q_corpus_card", (s, dir) => {
      TextAnalysis.corpusCard(Tables.documents(s, dir), "source", "text", "lang")
        .orderBy("source")
    },
      // token counts mirror the engine's leading-empty-aware arithmetic
      // (list_filter drops ALL empties; position 0 is the only one Java
      // split can keep, so the counts coincide)
      """WITH per AS (
        |  SELECT source, lang,
        |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS t,
        |         CAST(length(text) AS BIGINT) AS c
        |  FROM documents
        |), base AS (
        |  SELECT source,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(t) AS BIGINT) AS n_tokens,
        |         CAST(sum(c) AS BIGINT) AS n_chars,
        |         CAST(sum(t) AS DOUBLE) / count(*) AS mean_doc_tokens
        |  FROM per GROUP BY source
        |), lc AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM per GROUP BY source, lang
        |), lt AS (
        |  SELECT source, lang AS top_lang, cnt AS top_lang_docs,
        |         row_number() OVER (PARTITION BY source ORDER BY cnt DESC, lang) AS rn
        |  FROM lc
        |)
        |SELECT base.source, n_docs, n_tokens, n_chars, mean_doc_tokens,
        |       top_lang, top_lang_docs
        |FROM base JOIN lt ON base.source = lt.source AND lt.rn = 1
        |ORDER BY base.source""".stripMargin),

    // ---- Per-group heavy hitters: top-5 terms per source via the
    //      k-bounded string top-k aggregate (≤ k entries per group per
    //      partition cross the shuffle — never a vocabulary window sort)
    Gate("q_top_terms_by_source", (s, dir) => {
      TextAnalysis.topTermsByGroup(Tables.documents(s, dir), "source", "text", 5)
        .orderBy("source", "rank")
    },
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents
        |), tc AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok WHERE term <> '' GROUP BY source, term
        |), r AS (
        |  SELECT source, term, cnt,
        |         CAST(row_number() OVER (PARTITION BY source
        |                                 ORDER BY cnt DESC, term) AS INTEGER) AS rank
        |  FROM tc
        |)
        |SELECT source, rank, term, cnt FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin),

    // ---- Rare-word (OOV) ratio: the exact-arithmetic perplexity-proxy
    //      quality signal — corpus document frequencies joined back onto
    //      token occurrences ------------------------------------------
    Gate("q_rare_words", (s, dir) => {
      TextAnalysis.rareWordStats(Tables.documents(s, dir), "doc_id", "text", 300L)
        .orderBy("doc_id")
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
        |), tk AS (
        |  SELECT doc_id, t FROM tok WHERE t <> ''
        |), vocab AS (
        |  SELECT t, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, t FROM tk) GROUP BY t
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN df < 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(sum(CASE WHEN df < 300 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rare_ratio
        |FROM tk JOIN vocab USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- TF-IDF per-doc top-k terms: exact-integer (tf·1e6) div df
    //      score (keyword extraction / doc characterization) ----------
    Gate("q_tfidf", (s, dir) => {
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
        |), tk AS (
        |  SELECT doc_id, t FROM tok WHERE t <> ''
        |), tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY 1, 2
        |), vocab AS (
        |  SELECT t, count(*) AS df FROM tf GROUP BY t
        |), sc AS (
        |  SELECT doc_id, t, tf, df, (tf * 1000000) // df AS score_q
        |  FROM tf JOIN vocab USING (t)
        |), rk AS (
        |  SELECT doc_id, t, tf, df, score_q,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |              ORDER BY score_q DESC, t) AS INTEGER) AS rank
        |  FROM sc
        |)
        |SELECT doc_id, rank, t AS term, tf, df, score_q
        |FROM rk WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin)
  )
}
