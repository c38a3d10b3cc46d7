package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.VectorOps
import graft.operators.{Curation, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Gate queries for the corpus-curation operator suite added in round 4:
  * repetition metrics, token chunking, PII redaction, eval-set
  * decontamination ([[graft.operators.Curation]]), the codegen'd cosine expression
  * ([[graft.functions.VectorOps]]) and IVF cell assignment
  * ([[graft.operators.Similarity.assignCells]]).
  *
  * Every operator here is fully SQL-expressible, so each gate gets a real
  * DuckDB value compare (no rows-only entries): n-grams are rebuilt in SQL
  * via zipped `unnest(ts)`/`unnest(range(...))` position joins, and cell
  * assignment uses one-hot centroids so argmin-L2 reduces to an exact
  * argmax over the first four float components.
  */
object CurationQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- repetition metrics (duplicate-n-gram-fraction filter) -------------
    // integer counts + a cross-multiplied threshold flag keep the oracle
    // float-free; docs shorter than the gram width drop from both sides
    QueryDef("q_curation_repetition",
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(ts) AS t, unnest(range(1, len(ts)+1)) AS i
        |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ts
        |        FROM documents)),
        |grams AS (
        |  SELECT a.doc_id, a.lang, a.t || ' ' || b.t AS gram
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
        |per_doc AS (
        |  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS total,
        |         CAST(COUNT(DISTINCT gram) AS BIGINT) AS dist
        |  FROM grams GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs_with_grams,
        |  CAST(SUM(total) AS BIGINT) AS total_grams,
        |  CAST(SUM(dist) AS BIGINT) AS distinct_grams,
        |  CAST(SUM(CASE WHEN (total - dist) * 10 > total THEN 1 ELSE 0 END) AS BIGINT)
        |    AS repetitive_docs
        |FROM per_doc GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), Curation.ngramStats(TextOps.tokens(col("text")), 2).as("st"))
        .select(col("lang"), col("st.total").as("total"), col("st.dist").as("dist"))
        .where(col("total") > 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("docs_with_grams"),
          sum("total").cast("long").as("total_grams"),
          sum("dist").cast("long").as("distinct_grams"),
          sum(when((col("total") - col("dist")) * 10 > col("total"), 1)
            .otherwise(0)).cast("long").as("repetitive_docs"))
        .orderBy("lang")
    },

    // --- C4-style line-level cleaning (Raffel et al. 2020 §2.2): the
    // fixture has no newlines/punctuation, so the gate BUILDS a liney
    // corpus deterministically (6-token lines; terminal punctuation,
    // "javascript" mentions and the lorem-ipsum/brace poison keyed on
    // doc_id — the q_curation_html construction discipline), then both
    // engines replay the line rules and the doc verdicts. Line rules
    // REWRITE the document (kept lines are the cleaned text), so the
    // clean-char sum pins the rewrite, not just the verdict.
    QueryDef("q_curation_c4",
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |built AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(ts) / 6.0) AS INT)), i ->
        |      array_to_string(ts[6*i+1:6*i+6], ' ')
        |      || (CASE WHEN (doc_id + i) % 11 = 0 THEN ' javascript' ELSE '' END)
        |      || (CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)) AS ls
        |  FROM d WHERE len(ts) >= 1),
        |poisoned AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 89 = 0
        |          THEN ['lorem ipsum dolor sit amet.'] ELSE [] END)
        |    || ls ||
        |    (CASE WHEN doc_id % 97 = 0 THEN ['function() {'] ELSE [] END) AS ls
        |  FROM built),
        |txt AS (SELECT doc_id, array_to_string(ls, chr(10)) AS text FROM poisoned),
        |f AS (
        |  SELECT doc_id, text, string_split(text, chr(10)) AS ls,
        |    list_filter(string_split(text, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]$')
        |      AND len(string_split_regex(trim(l), '[ \t]+')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS ks
        |  FROM txt),
        |v AS (
        |  SELECT doc_id, len(ls) AS n_lines, len(ks) AS n_kept,
        |    CASE WHEN contains(text, '{') THEN 'brace'
        |         WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
        |         WHEN len(ks) < 3 THEN 'too_few_lines'
        |         ELSE 'kept' END AS reason,
        |    CASE WHEN NOT contains(text, '{')
        |          AND NOT contains(lower(text), 'lorem ipsum')
        |          AND len(ks) >= 3
        |         THEN length(array_to_string(ks, chr(10))) ELSE 0 END AS cc
        |  FROM f)
        |SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_lines) AS BIGINT) AS total_lines,
        |  CAST(SUM(n_kept) AS BIGINT) AS kept_lines,
        |  CAST(SUM(cc) AS BIGINT) AS clean_chars
        |FROM v GROUP BY reason ORDER BY reason NULLS FIRST""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.{ArrayType, StringType}
      val empty = array().cast(ArrayType(StringType))
      val liney = Tables.documents(s, d)
        .where(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
        .where(size(col("__tk")) >= 1)
        .select(col("doc_id"),
          transform(
            sequence(lit(0), ceil(size(col("__tk")) / 6.0).cast("int") - 1),
            i => concat(
              array_join(slice(col("__tk"), i * 6 + 1, lit(6)), " "),
              when((col("doc_id") + i) % 11 === 0, " javascript").otherwise(""),
              when((col("doc_id") + i) % 3 =!= 0, ".").otherwise("")))
            .as("__ls"))
        .select(col("doc_id"), array_join(concat(
          when(col("doc_id") % 89 === 0,
            array(lit("lorem ipsum dolor sit amet."))).otherwise(empty),
          col("__ls"),
          when(col("doc_id") % 97 === 0,
            array(lit("function() {"))).otherwise(empty)), "\n").as("text"))
      Curation.c4LineFilter(liney, "doc_id", "text")
        .groupBy("reason")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_lines").cast("long").as("total_lines"),
          sum("n_kept").cast("long").as("kept_lines"),
          sum(coalesce(length(col("clean_text")), lit(0))).cast("long")
            .as("clean_chars"))
        .orderBy(asc_nulls_first("reason"))
    },

    // --- canonical-URL crawl dedup: the "same resource, different
    // spellings" collapse that runs BEFORE content dedup. The gate
    // builds seven deterministic spellings per resource (scheme/case,
    // www + default port, trailing slash, tracking params, param order,
    // fragments) and BOTH engines replay the full canonicalization
    // generically — host folding, port/www strip, slash/index fold,
    // tracking-param drop, param SORT — then keep-min dedup per
    // canonical form.
    QueryDef("q_curation_canonical_url",
      """WITH u AS (
        |  SELECT doc_id, doc_id % 500 AS g, doc_id % 7 AS v,
        |    (doc_id % 500) % 40 AS s
        |  FROM documents),
        |built AS (
        |  SELECT doc_id, g % 10 AS bucket,
        |    CASE v
        |      WHEN 0 THEN 'http://site' || s || '.com/page' || g
        |      WHEN 1 THEN 'HTTPS://SITE' || s || '.COM/page' || g
        |      WHEN 2 THEN 'http://www.site' || s || '.com:80/page' || g
        |      WHEN 3 THEN 'http://site' || s || '.com/page' || g || '/'
        |      WHEN 4 THEN 'http://site' || s || '.com/page' || g
        |                  || '?utm_source=x&gclid=1'
        |      WHEN 5 THEN 'http://site' || s || '.com/page' || g || '?b=2&a=1'
        |      ELSE 'https://site' || s || '.com/page' || g || '?a=1&b=2#frag'
        |    END AS url
        |  FROM u),
        |parsed AS (
        |  SELECT doc_id, bucket,
        |    regexp_replace(split_part(url, '#', 1),
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS asx
        |  FROM built),
        |hp AS (
        |  SELECT *, split_part(split_part(asx, '/', 1), '?', 1) AS hpr
        |  FROM parsed),
        |pieces AS (
        |  SELECT doc_id, bucket,
        |    regexp_replace(regexp_replace(lower(hpr), ':(80|443)$', ''),
        |      '^www\.', '') AS host,
        |    regexp_replace(regexp_replace(
        |      split_part(substring(asx, length(hpr) + 1), '?', 1),
        |      '/index\.html?$', ''), '/+$', '') AS path,
        |    CASE WHEN contains(substring(asx, length(hpr) + 1), '?')
        |         THEN substring(substring(asx, length(hpr) + 1),
        |           length(split_part(substring(asx, length(hpr) + 1), '?', 1)) + 2)
        |         ELSE '' END AS query
        |  FROM hp),
        |canon AS (
        |  SELECT doc_id, bucket,
        |    host || path || (CASE WHEN len(ps) > 0
        |      THEN '?' || array_to_string(ps, '&') ELSE '' END) AS cu
        |  FROM (SELECT *, list_sort(list_filter(string_split(query, '&'),
        |          p -> len(p) > 0 AND NOT regexp_matches(p,
        |            '^(utm_[a-z]+|gclid|fbclid|ref|mc_cid|mc_eid)='))) AS ps
        |        FROM pieces)),
        |per_canon AS (
        |  SELECT bucket, cu, CAST(COUNT(*) AS BIGINT) AS n,
        |    MIN(doc_id) AS kept
        |  FROM canon GROUP BY 1, 2)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(SUM(n) AS BIGINT) AS n_urls,
        |  CAST(COUNT(*) AS BIGINT) AS n_canonical,
        |  CAST(SUM(kept) AS BIGINT) AS kept_sum
        |FROM per_canon GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      val g = col("doc_id") % 500
      val v = col("doc_id") % 7
      val site = g % 40
      val base = concat(lit("http://site"), site, lit(".com/page"), g)
      val url =
        when(v === 0, base)
          .when(v === 1, concat(lit("HTTPS://SITE"), site, lit(".COM/page"), g))
          .when(v === 2, concat(lit("http://www.site"), site,
            lit(".com:80/page"), g))
          .when(v === 3, concat(base, lit("/")))
          .when(v === 4, concat(base, lit("?utm_source=x&gclid=1")))
          .when(v === 5, concat(base, lit("?b=2&a=1")))
          .otherwise(concat(lit("https://site"), site, lit(".com/page"), g,
            lit("?a=1&b=2#frag")))
      Tables.documents(s, d)
        .select(col("doc_id"), (g % 10).as("bucket"), url.as("url"))
        .select(col("doc_id"), col("bucket"),
          Curation.canonicalUrl(col("url")).as("cu"))
        .groupBy("bucket", "cu")
        .agg(count(lit(1)).as("n"), min("doc_id").as("kept"))
        .groupBy("bucket")
        .agg(sum("n").cast("long").as("n_urls"),
          count(lit(1)).as("n_canonical"),
          sum("kept").cast("long").as("kept_sum"))
        .orderBy("bucket")
    },

    // --- fixed-size token chunking (sequence-packing prep) -----------------
    QueryDef("q_curation_chunks",
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE doc_id < 50),
        |c AS (SELECT doc_id, toks,
        |        unnest(range(0, GREATEST(CAST(ceil(len(toks) / 7.0) AS INT), 1)))
        |          AS chunk_idx
        |      FROM t)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(list_slice(toks, chunk_idx*7 + 1, chunk_idx*7 + 7)) AS INT) AS n_tokens,
        |  array_to_string(list_slice(toks, chunk_idx*7 + 1, chunk_idx*7 + 7), ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id NULLS FIRST, chunk_idx NULLS FIRST""".stripMargin) { (s, d) =>
      Curation.chunkTokens(
          Tables.documents(s, d).where(col("doc_id") < 50), "doc_id", "text", 7)
        .orderBy("doc_id", "chunk_idx")
    },

    // --- overlapping (strided) chunks: the RAG indexing window. Chunk i
    // starts at i*stride; count = 1 + ceil((n - size)/stride) in integer
    // arithmetic, identical in both engines; final window clipped.
    QueryDef("q_curation_chunks_overlap",
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE doc_id < 50),
        |c AS (SELECT doc_id, toks,
        |        unnest(range(0, CASE WHEN len(toks) <= 10 THEN 1
        |          ELSE 1 + (len(toks) - 10 + 6) // 7 END)) AS chunk_idx
        |      FROM t)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(list_slice(toks, chunk_idx*7 + 1, chunk_idx*7 + 10)) AS INT) AS n_tokens,
        |  array_to_string(list_slice(toks, chunk_idx*7 + 1, chunk_idx*7 + 10), ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id NULLS FIRST, chunk_idx NULLS FIRST""".stripMargin) { (s, d) =>
      Curation.chunkTokensOverlap(
          Tables.documents(s, d).where(col("doc_id") < 50), "doc_id", "text",
          chunkSize = 10, stride = 7)
        .orderBy("doc_id", "chunk_idx")
    },

    // --- PII redaction ------------------------------------------------------
    // the synthetic corpus has no PII, so the gate plants a deterministic
    // --- HTML → text: planted pages (script/style blocks, comments,
    // entity forms incl. the double-decode trap "&amp;lt;") through the
    // shared regexp chain — both engines are RE2-compatible on every
    // pattern used (non-greedy blocks, inline (?is), no backreferences).
    QueryDef("q_curation_html",
      """WITH h AS (SELECT doc_id,
        |  '<html><head><style>p{}</style><script>var x="<i>";</script></head>'
        |  || '<body><!-- c --><h1>T' || CAST(doc_id % 5 AS VARCHAR)
        |  || '</h1><p>Hello &amp;lt; world ' || CAST(doc_id % 3 AS VARCHAR)
        |  || '</p><div>A&nbsp;B &quot;q&#39;s&quot; &gt;ok</div></body></html>'
        |  AS html
        |  FROM documents WHERE doc_id < 200),
        |t AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(html,
        |            '(?is)<(script|style)\b[^>]*>.*?</(script|style)>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text
        |  FROM h)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM t
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val html = concat(
        lit("<html><head><style>p{}</style><script>var x=\"<i>\";</script></head>" +
          "<body><!-- c --><h1>T"),
        (col("doc_id") % 5).cast("string"),
        lit("</h1><p>Hello &amp;lt; world "),
        (col("doc_id") % 3).cast("string"),
        lit("</p><div>A&nbsp;B &quot;q&#39;s&quot; &gt;ok</div></body></html>"))
      Tables.documents(s, d).where(col("doc_id") < 200)
        .select(col("doc_id"),
          Curation.htmlToText(html).as("text"))
        .orderBy("doc_id")
    },

    // --- URL / domain curation: planted urls (one per branch — ports,
    // deep paths, query strings, IP hosts, bare hosts) parsed by the
    // substring_index spelling BOTH engines share, then the blocklist
    // filter (domain 'site.org', tld 'xyz') and a per-(domain, tld)
    // report. Pins every urlSignals field cross-engine.
    QueryDef("q_curation_url",
      """WITH u AS (
        |  SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'https://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com/a/b/c?x=1&y=2'
        |    WHEN 1 THEN 'http://blog.spam' || CAST(doc_id % 3 AS VARCHAR) || '.xyz/post'
        |    WHEN 2 THEN 'https://10.0.0.' || CAST(doc_id % 9 AS VARCHAR)
        |    WHEN 3 THEN 'https://docs.site.org:8443/path/'
        |    ELSE 'http://one.two.three.co/?q=a' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    lower(split_part(split_part(split_part(split_part(url, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS host,
        |    split_part(split_part(url, '://', 2), '/', 1) AS hostport,
        |    split_part(url, '://', 2) AS aftersch
        |  FROM u),
        |p2 AS (
        |  SELECT doc_id, host,
        |    substring(aftersch, len(split_part(split_part(hostport, '?', 1),
        |      '?', 1)) + 1) AS pathq,
        |    string_split(host, '.') AS labels,
        |    regexp_matches(host, '^[0-9.]+$') AS is_ip
        |  FROM p),
        |sig AS (
        |  SELECT doc_id, host, is_ip,
        |    CASE WHEN is_ip THEN host
        |         WHEN len(labels) >= 2
        |           THEN array_to_string(labels[len(labels)-1 : len(labels)], '.')
        |         ELSE host END AS domain,
        |    CASE WHEN is_ip THEN '' ELSE labels[-1] END AS tld,
        |    len(list_filter(string_split(split_part(pathq, '?', 1), '/'),
        |      s -> len(s) > 0)) AS path_depth,
        |    CASE WHEN contains(pathq, '?')
        |         THEN len(string_split(split_part(pathq, '?', 2), '&'))
        |         ELSE 0 END AS n_params
        |  FROM p2)
        |SELECT domain, tld, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(path_depth) AS BIGINT) AS depth_sum,
        |  CAST(SUM(n_params) AS BIGINT) AS param_sum,
        |  CAST(SUM(CASE WHEN is_ip THEN 1 ELSE 0 END) AS BIGINT) AS n_ip
        |FROM sig
        |WHERE domain <> 'site.org' AND tld <> 'xyz'
        |GROUP BY 1, 2 ORDER BY domain NULLS FIRST, tld NULLS FIRST""".stripMargin) { (s, d) =>
      val withUrl = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("https://www.example"), (col("doc_id") % 7).cast("string"),
            lit(".com/a/b/c?x=1&y=2")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("http://blog.spam"), (col("doc_id") % 3).cast("string"),
              lit(".xyz/post")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("https://10.0.0."), (col("doc_id") % 9).cast("string")))
          .when(col("doc_id") % 5 === 3, lit("https://docs.site.org:8443/path/"))
          .otherwise(lit("http://one.two.three.co/?q=a")).as("url"))
      Curation.urlFilter(withUrl, "url",
          blockedDomains = Seq("site.org"), blockedTlds = Seq("xyz"))
        .groupBy(col("url_sig.domain").as("domain"), col("url_sig.tld").as("tld"))
        .agg(count(lit(1)).as("n"),
          sum(col("url_sig.path_depth")).as("depth_sum"),
          sum(col("url_sig.n_params")).as("param_sum"),
          sum(col("url_sig.is_ip").cast("long")).as("n_ip"))
        .orderBy("domain", "tld")
    },

    // --- hyperlink extraction → domain link graph: planted pages carry
    // absolute (double- AND single-quoted, mixed-case HREF), relative,
    // self-loop, fragment-only and mailto links; only the absolute
    // cross-domain ones become (src_domain, dst_domain) edges under the
    // urlSignals domain rule. Oracle replays the href regex (inline
    // (?i), RE2-compatible in both engines) and the split_part domain
    // spelling from q_curation_url.
    QueryDef("q_link_graph",
      """WITH h AS (
        |  SELECT doc_id,
        |    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' AS url,
        |    '<html><body><a href="https://news' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.org/a">x</a> <A HREF=''http://blog' || CAST(doc_id % 3 AS VARCHAR)
        |    || '.net/b?q=1''>y</a> <a href="/rel/path">r</a> <a href="https://site'
        |    || CAST(doc_id % 7 AS VARCHAR)
        |    || '.com/self">s</a> <a href="#f">f</a><link href=''mailto:a@b.c''/></body></html>'
        |    AS html
        |  FROM documents),
        |links AS (
        |  SELECT url, unnest(regexp_extract_all(html,
        |    '(?i)href\s*=\s*["'']([^"''#<>\s]+)', 1)) AS href
        |  FROM h),
        |hosts AS (
        |  SELECT
        |    lower(split_part(split_part(split_part(split_part(url, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS shost,
        |    lower(split_part(split_part(split_part(split_part(href, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS dhost
        |  FROM links
        |  WHERE href LIKE 'http://%' OR href LIKE 'https://%'),
        |dd AS (
        |  SELECT
        |    CASE WHEN regexp_matches(shost, '^[0-9.]+$') THEN shost
        |         WHEN len(string_split(shost, '.')) >= 2
        |           THEN array_to_string(string_split(shost, '.')[
        |             len(string_split(shost, '.'))-1 : len(string_split(shost, '.'))], '.')
        |         ELSE shost END AS src_domain,
        |    CASE WHEN regexp_matches(dhost, '^[0-9.]+$') THEN dhost
        |         WHEN len(string_split(dhost, '.')) >= 2
        |           THEN array_to_string(string_split(dhost, '.')[
        |             len(string_split(dhost, '.'))-1 : len(string_split(dhost, '.'))], '.')
        |         ELSE dhost END AS dst_domain
        |  FROM hosts)
        |SELECT DISTINCT src_domain, dst_domain FROM dd
        |WHERE src_domain <> dst_domain
        |ORDER BY src_domain NULLS FIRST, dst_domain NULLS FIRST""".stripMargin) { (s, d) =>
      val url = concat(lit("https://site"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"))
      val html = concat(
        lit("<html><body><a href=\"https://news"),
        (col("doc_id") % 5).cast("string"),
        lit(".org/a\">x</a> <A HREF='http://blog"),
        (col("doc_id") % 3).cast("string"),
        lit(".net/b?q=1'>y</a> <a href=\"/rel/path\">r</a> <a href=\"https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".com/self\">s</a> <a href=\"#f\">f</a>" +
          "<link href='mailto:a@b.c'/></body></html>"))
      Curation.linkGraph(
          Tables.documents(s, d).select(url.as("url"), html.as("html")),
          "url", "html")
        .orderBy("src_domain", "dst_domain")
    },

    // --- domain authority prior: PageRank over the extracted link graph
    // (the CommonCrawl host-rank practice — rank joins back to documents
    // as a quality signal). Oracle: the q_link_graph edge replay feeding
    // the same 3-iteration textbook unroll as q_graph_pagerank_directed,
    // with VARCHAR node ids.
    QueryDef("q_link_rank",
      """WITH h AS (
        |  SELECT doc_id,
        |    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' AS url,
        |    '<html><body><a href="https://news' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.org/a">x</a> <A HREF=''http://blog' || CAST(doc_id % 3 AS VARCHAR)
        |    || '.net/b?q=1''>y</a> <a href="/rel/path">r</a> <a href="https://site'
        |    || CAST(doc_id % 7 AS VARCHAR)
        |    || '.com/self">s</a> <a href="#f">f</a><link href=''mailto:a@b.c''/></body></html>'
        |    AS html
        |  FROM documents),
        |links AS (
        |  SELECT url, unnest(regexp_extract_all(html,
        |    '(?i)href\s*=\s*["'']([^"''#<>\s]+)', 1)) AS href
        |  FROM h),
        |hosts AS (
        |  SELECT
        |    lower(split_part(split_part(split_part(split_part(url, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS shost,
        |    lower(split_part(split_part(split_part(split_part(href, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS dhost
        |  FROM links
        |  WHERE href LIKE 'http://%' OR href LIKE 'https://%'),
        |dd AS (
        |  SELECT
        |    array_to_string(string_split(shost, '.')[
        |      len(string_split(shost, '.'))-1 : len(string_split(shost, '.'))], '.')
        |      AS s,
        |    array_to_string(string_split(dhost, '.')[
        |      len(string_split(dhost, '.'))-1 : len(string_split(dhost, '.'))], '.')
        |      AS d
        |  FROM hosts),
        |e AS (SELECT DISTINCT s, d FROM dd WHERE s <> d),
        |nodes AS (SELECT DISTINCT id FROM
        |  (SELECT s AS id FROM e UNION ALL SELECT d FROM e)),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1.0/n AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.d AS id, SUM(r0.r/deg.deg) AS cin
        |       FROM e JOIN r0 ON e.s = r0.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d1 AS (SELECT COALESCE(SUM(r0.r), 0) AS dm FROM r0
        |       LEFT JOIN deg ON r0.id = deg.s WHERE deg.s IS NULL),
        |r1 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c1.cin, 0) + d1.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c1 USING (id) CROSS JOIN nn CROSS JOIN d1),
        |c2 AS (SELECT e.d AS id, SUM(r1.r/deg.deg) AS cin
        |       FROM e JOIN r1 ON e.s = r1.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d2 AS (SELECT COALESCE(SUM(r1.r), 0) AS dm FROM r1
        |       LEFT JOIN deg ON r1.id = deg.s WHERE deg.s IS NULL),
        |r2 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c2.cin, 0) + d2.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c2 USING (id) CROSS JOIN nn CROSS JOIN d2),
        |c3 AS (SELECT e.d AS id, SUM(r2.r/deg.deg) AS cin
        |       FROM e JOIN r2 ON e.s = r2.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d3 AS (SELECT COALESCE(SUM(r2.r), 0) AS dm FROM r2
        |       LEFT JOIN deg ON r2.id = deg.s WHERE deg.s IS NULL),
        |r3 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c3.cin, 0) + d3.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c3 USING (id) CROSS JOIN nn CROSS JOIN d3)
        |SELECT id AS domain, ROUND(r, 4) AS rank
        |FROM r3 ORDER BY ROUND(r, 4) DESC, id LIMIT 15""".stripMargin) { (s, d) =>
      val url = concat(lit("https://site"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"))
      val html = concat(
        lit("<html><body><a href=\"https://news"),
        (col("doc_id") % 5).cast("string"),
        lit(".org/a\">x</a> <A HREF='http://blog"),
        (col("doc_id") % 3).cast("string"),
        lit(".net/b?q=1'>y</a> <a href=\"/rel/path\">r</a> <a href=\"https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".com/self\">s</a> <a href=\"#f\">f</a>" +
          "<link href='mailto:a@b.c'/></body></html>"))
      val edges = Curation.linkGraph(
        Tables.documents(s, d).select(url.as("url"), html.as("html")),
        "url", "html")
      graft.operators.GraphRank.pageRank(edges, "src_domain", "dst_domain",
          iters = 3)
        .select(col("id").as("domain"), round(col("rank"), 4).as("rank"))
        .orderBy(col("rank").desc, col("domain").asc)
        .limit(15)
    },

    // --- authority prior joined BACK onto documents: each page picks up
    // its own domain's PageRank (the per-document quality signal a
    // curation mix weights by). The rank table is domain-cardinality —
    // broadcast-joined onto the corpus, never shuffling pages. Oracle:
    // the q_link_rank unroll joined to per-domain page counts.
    QueryDef("q_link_prior",
      """WITH h AS (
        |  SELECT doc_id,
        |    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' AS url,
        |    '<html><body><a href="https://news' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.org/a">x</a> <A HREF=''http://blog' || CAST(doc_id % 3 AS VARCHAR)
        |    || '.net/b?q=1''>y</a> <a href="/rel/path">r</a> <a href="https://site'
        |    || CAST(doc_id % 7 AS VARCHAR)
        |    || '.com/self">s</a> <a href="#f">f</a><link href=''mailto:a@b.c''/></body></html>'
        |    AS html
        |  FROM documents),
        |links AS (
        |  SELECT url, unnest(regexp_extract_all(html,
        |    '(?i)href\s*=\s*["'']([^"''#<>\s]+)', 1)) AS href
        |  FROM h),
        |hosts AS (
        |  SELECT
        |    lower(split_part(split_part(split_part(split_part(url, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS shost,
        |    lower(split_part(split_part(split_part(split_part(href, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS dhost
        |  FROM links
        |  WHERE href LIKE 'http://%' OR href LIKE 'https://%'),
        |dd AS (
        |  SELECT
        |    array_to_string(string_split(shost, '.')[
        |      len(string_split(shost, '.'))-1 : len(string_split(shost, '.'))], '.')
        |      AS s,
        |    array_to_string(string_split(dhost, '.')[
        |      len(string_split(dhost, '.'))-1 : len(string_split(dhost, '.'))], '.')
        |      AS d
        |  FROM hosts),
        |e AS (SELECT DISTINCT s, d FROM dd WHERE s <> d),
        |nodes AS (SELECT DISTINCT id FROM
        |  (SELECT s AS id FROM e UNION ALL SELECT d FROM e)),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1.0/n AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.d AS id, SUM(r0.r/deg.deg) AS cin
        |       FROM e JOIN r0 ON e.s = r0.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d1 AS (SELECT COALESCE(SUM(r0.r), 0) AS dm FROM r0
        |       LEFT JOIN deg ON r0.id = deg.s WHERE deg.s IS NULL),
        |r1 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c1.cin, 0) + d1.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c1 USING (id) CROSS JOIN nn CROSS JOIN d1),
        |c2 AS (SELECT e.d AS id, SUM(r1.r/deg.deg) AS cin
        |       FROM e JOIN r1 ON e.s = r1.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d2 AS (SELECT COALESCE(SUM(r1.r), 0) AS dm FROM r1
        |       LEFT JOIN deg ON r1.id = deg.s WHERE deg.s IS NULL),
        |r2 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c2.cin, 0) + d2.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c2 USING (id) CROSS JOIN nn CROSS JOIN d2),
        |c3 AS (SELECT e.d AS id, SUM(r2.r/deg.deg) AS cin
        |       FROM e JOIN r2 ON e.s = r2.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d3 AS (SELECT COALESCE(SUM(r2.r), 0) AS dm FROM r2
        |       LEFT JOIN deg ON r2.id = deg.s WHERE deg.s IS NULL),
        |r3 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c3.cin, 0) + d3.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c3 USING (id) CROSS JOIN nn CROSS JOIN d3),
        |docdom AS (
        |  SELECT doc_id,
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain
        |  FROM h)
        |SELECT dd2.domain, ROUND(r3.r, 4) AS rank,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM docdom dd2 JOIN r3 ON r3.id = dd2.domain
        |GROUP BY 1, 2
        |ORDER BY rank DESC, domain NULLS FIRST""".stripMargin) { (s, d) =>
      val url = concat(lit("https://site"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"))
      val html = concat(
        lit("<html><body><a href=\"https://news"),
        (col("doc_id") % 5).cast("string"),
        lit(".org/a\">x</a> <A HREF='http://blog"),
        (col("doc_id") % 3).cast("string"),
        lit(".net/b?q=1'>y</a> <a href=\"/rel/path\">r</a> <a href=\"https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".com/self\">s</a> <a href=\"#f\">f</a>" +
          "<link href='mailto:a@b.c'/></body></html>"))
      val pages = Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"), html.as("html"))
      val ranks = graft.operators.GraphRank.pageRank(
        Curation.linkGraph(pages, "url", "html"),
        "src_domain", "dst_domain", iters = 3)
      pages.withColumn("__sig", Curation.urlSignals(col("url")))
        .select(col("doc_id"), col("__sig.domain").as("domain"))
        .join(broadcast(ranks.select(col("id").as("domain"),
          round(col("rank"), 4).as("rank"))), Seq("domain"))
        .groupBy("domain", "rank")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("rank").desc, col("domain").asc)
    },

    // --- HITS hubs & authorities over the same extracted link graph: the
    // companion centrality to q_link_rank — crawling sites (all outlinks,
    // no inlinks) surface as pure hubs, news/blog targets as pure
    // authorities, a split PageRank's single score cannot express. Oracle
    // replays the q_link_graph edge extraction feeding the 2-iteration
    // hub←E·auth / auth←Eᵀ·hub unroll with per-half-step L1
    // normalization (GraphRank.hits scaladoc), VARCHAR node ids.
    QueryDef("q_link_hits",
      """WITH h AS (
        |  SELECT doc_id,
        |    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' AS url,
        |    '<html><body><a href="https://news' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.org/a">x</a> <A HREF=''http://blog' || CAST(doc_id % 3 AS VARCHAR)
        |    || '.net/b?q=1''>y</a> <a href="/rel/path">r</a> <a href="https://site'
        |    || CAST(doc_id % 7 AS VARCHAR)
        |    || '.com/self">s</a> <a href="#f">f</a><link href=''mailto:a@b.c''/></body></html>'
        |    AS html
        |  FROM documents),
        |links AS (
        |  SELECT url, unnest(regexp_extract_all(html,
        |    '(?i)href\s*=\s*["'']([^"''#<>\s]+)', 1)) AS href
        |  FROM h),
        |hosts AS (
        |  SELECT
        |    lower(split_part(split_part(split_part(split_part(url, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS shost,
        |    lower(split_part(split_part(split_part(split_part(href, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS dhost
        |  FROM links
        |  WHERE href LIKE 'http://%' OR href LIKE 'https://%'),
        |dd AS (
        |  SELECT
        |    array_to_string(string_split(shost, '.')[
        |      len(string_split(shost, '.'))-1 : len(string_split(shost, '.'))], '.')
        |      AS s,
        |    array_to_string(string_split(dhost, '.')[
        |      len(string_split(dhost, '.'))-1 : len(string_split(dhost, '.'))], '.')
        |      AS d
        |  FROM hosts),
        |e AS (SELECT DISTINCT s, d FROM dd WHERE s <> d),
        |nodes AS (SELECT DISTINCT id FROM
        |  (SELECT s AS id FROM e UNION ALL SELECT d FROM e)),
        |h1r AS (SELECT s AS id, CAST(COUNT(*) AS DOUBLE) AS v FROM e GROUP BY 1),
        |h1f AS (SELECT nodes.id, COALESCE(h1r.v, 0) AS v
        |        FROM nodes LEFT JOIN h1r USING (id)),
        |h1s AS (SELECT SUM(v) AS t FROM h1f),
        |h1 AS (SELECT id, v/t AS v FROM h1f CROSS JOIN h1s),
        |a1r AS (SELECT e.d AS id, SUM(h1.v) AS v FROM e
        |        JOIN h1 ON e.s = h1.id GROUP BY 1),
        |a1f AS (SELECT nodes.id, COALESCE(a1r.v, 0) AS v
        |        FROM nodes LEFT JOIN a1r USING (id)),
        |a1s AS (SELECT SUM(v) AS t FROM a1f),
        |a1 AS (SELECT id, v/t AS v FROM a1f CROSS JOIN a1s),
        |h2r AS (SELECT e.s AS id, SUM(a1.v) AS v FROM e
        |        JOIN a1 ON e.d = a1.id GROUP BY 1),
        |h2f AS (SELECT nodes.id, COALESCE(h2r.v, 0) AS v
        |        FROM nodes LEFT JOIN h2r USING (id)),
        |h2s AS (SELECT SUM(v) AS t FROM h2f),
        |h2 AS (SELECT id, v/t AS v FROM h2f CROSS JOIN h2s),
        |a2r AS (SELECT e.d AS id, SUM(h2.v) AS v FROM e
        |        JOIN h2 ON e.s = h2.id GROUP BY 1),
        |a2f AS (SELECT nodes.id, COALESCE(a2r.v, 0) AS v
        |        FROM nodes LEFT JOIN a2r USING (id)),
        |a2s AS (SELECT SUM(v) AS t FROM a2f),
        |a2 AS (SELECT id, v/t AS v FROM a2f CROSS JOIN a2s)
        |SELECT h2.id AS domain, ROUND(h2.v, 4) AS hub, ROUND(a2.v, 4) AS auth
        |FROM h2 JOIN a2 ON h2.id = a2.id
        |ORDER BY auth DESC, hub DESC, domain NULLS FIRST""".stripMargin) { (s, d) =>
      val url = concat(lit("https://site"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"))
      val html = concat(
        lit("<html><body><a href=\"https://news"),
        (col("doc_id") % 5).cast("string"),
        lit(".org/a\">x</a> <A HREF='http://blog"),
        (col("doc_id") % 3).cast("string"),
        lit(".net/b?q=1'>y</a> <a href=\"/rel/path\">r</a> <a href=\"https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".com/self\">s</a> <a href=\"#f\">f</a>" +
          "<link href='mailto:a@b.c'/></body></html>"))
      val edges = Curation.linkGraph(
        Tables.documents(s, d).select(url.as("url"), html.as("html")),
        "url", "html")
      graft.operators.GraphRank.hits(edges, "src_domain", "dst_domain",
          iters = 2)
        .select(col("id").as("domain"), round(col("hub"), 4).as("hub"),
          round(col("auth"), 4).as("auth"))
        .orderBy(col("auth").desc, col("hub").desc, col("domain").asc)
    },

    // --- anchor-text aggregation: how the web DESCRIBES each target
    // domain. Planted pages carry parity-varying news anchors ("Topic 0"
    // / "Topic 1"), a single-quoted uppercase-HREF blog anchor with
    // interior whitespace (trim/lower normalization visible), a same-
    // domain nav anchor and a relative link (both dropped). Oracle
    // replays the two-stage tag→(href, anchor) extraction with the same
    // RE2 patterns and the split_part domain rule.
    QueryDef("q_link_anchors",
      """WITH h AS (
        |  SELECT doc_id,
        |    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' AS url,
        |    '<html><body><a href="https://news' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.org/a">Topic ' || CAST(doc_id % 2 AS VARCHAR)
        |    || '</a> <A HREF=''http://blog' || CAST(doc_id % 3 AS VARCHAR)
        |    || '.net/b''> Blog  Post </a><a href="https://site'
        |    || CAST(doc_id % 7 AS VARCHAR)
        |    || '.com/x">self nav</a><a href="/rel">rel</a></body></html>'
        |    AS html
        |  FROM documents),
        |tags AS (
        |  SELECT url, unnest(regexp_extract_all(html,
        |    '(?i)<a\s[^>]*href\s*=\s*["''][^"''#<>\s]+[^>]*>[^<]*')) AS tag
        |  FROM h),
        |pa AS (
        |  SELECT url,
        |    regexp_extract(tag, '(?i)href\s*=\s*["'']([^"''#<>\s]+)', 1) AS href,
        |    regexp_extract(tag, '>([^<]*)$', 1) AS anchor
        |  FROM tags),
        |hosts AS (
        |  SELECT
        |    lower(split_part(split_part(split_part(split_part(url, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS shost,
        |    lower(split_part(split_part(split_part(split_part(href, '://', 2),
        |      '/', 1), '?', 1), ':', 1)) AS dhost,
        |    lower(trim(anchor)) AS anchor
        |  FROM pa
        |  WHERE href LIKE 'http://%' OR href LIKE 'https://%'),
        |dd AS (
        |  SELECT
        |    array_to_string(string_split(shost, '.')[
        |      len(string_split(shost, '.'))-1 : len(string_split(shost, '.'))], '.')
        |      AS s,
        |    array_to_string(string_split(dhost, '.')[
        |      len(string_split(dhost, '.'))-1 : len(string_split(dhost, '.'))], '.')
        |      AS d,
        |    anchor
        |  FROM hosts)
        |SELECT d AS dst_domain, anchor, CAST(COUNT(*) AS BIGINT) AS n
        |FROM dd WHERE d <> s AND anchor <> ''
        |GROUP BY 1, 2
        |ORDER BY dst_domain NULLS FIRST, anchor NULLS FIRST""".stripMargin) { (s, d) =>
      val url = concat(lit("https://site"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"))
      val html = concat(
        lit("<html><body><a href=\"https://news"),
        (col("doc_id") % 5).cast("string"),
        lit(".org/a\">Topic "),
        (col("doc_id") % 2).cast("string"),
        lit("</a> <A HREF='http://blog"),
        (col("doc_id") % 3).cast("string"),
        lit(".net/b'> Blog  Post </a><a href=\"https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".com/x\">self nav</a><a href=\"/rel\">rel</a></body></html>"))
      Curation.anchorStats(
          Tables.documents(s, d).select(url.as("url"), html.as("html")),
          "url", "html")
        .orderBy(asc_nulls_first("dst_domain"), asc_nulls_first("anchor"))
    },

    // email + phone per doc; patterns are RE2/Java-identical by contract
    // (Curation.EmailPattern scaladoc), DuckDB needs the 'g' flag for
    // replace-all to match Spark's regexp_replace
    QueryDef("q_curation_pii",
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  regexp_replace(regexp_replace(
        |      text || ' reach u' || doc_id || '@example.com or +1-555-123-4567',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]+-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(
        |        text || ' reach u' || doc_id || '@example.com or +1-555-123-4567',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(
        |        text || ' reach u' || doc_id || '@example.com or +1-555-123-4567',
        |        '\+?[0-9]+-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_pii
        |FROM documents WHERE doc_id < 40
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val withPii = concat(col("text"), lit(" reach u"), col("doc_id"),
        lit("@example.com or +1-555-123-4567"))
      Tables.documents(s, d).where(col("doc_id") < 40)
        .select(col("doc_id"),
          Curation.redactPii(withPii).as("redacted"),
          Curation.piiCount(withPii).as("n_pii"))
        .orderBy("doc_id")
    },

    // --- eval-set decontamination (n-gram overlap) --------------------------
    QueryDef("q_curation_decontam",
      """WITH tok AS (
        |  SELECT doc_id, unnest(ts) AS t, unnest(range(1, len(ts)+1)) AS i
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |        FROM documents)),
        |g AS (
        |  SELECT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS gram
        |  FROM tok a
        |  JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |  JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
        |SELECT DISTINCT CAST(g.doc_id AS BIGINT) AS doc_id
        |FROM g JOIN bg USING (gram)
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.contaminatedIds(docs, docs.where(col("doc_id") < 10),
          "doc_id", "text", 3)
        .orderBy("doc_id")
    },

    // --- codegen'd cosine expression ----------------------------------------
    // the exactness contract (CosineSim ≡ the interpreted HOF fold,
    // bit-identical) asserted in-query over every adjacent-id pair; the
    // oracle pins the pair count (the recall-flag gate pattern)
    QueryDef("q_vector_cosine",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS codegen_matches_hof
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val shifted = emb.select((col("vec_id") + 1).as("vec_id"),
        col("embedding").as("emb_b"))
      emb.join(shifted, "vec_id")
        .select(VectorOps.cosine(col("embedding"), col("emb_b")).as("cg"),
          Similarity.cosineHof(col("embedding"), col("emb_b")).as("hof"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("cg") === col("hof")).as("codegen_matches_hof"))
    },

    // --- IVF cell assignment (k-means assignment step) ----------------------
    // one-hot centroids e_0..e_3: argmin ||v - e_j||² ≡ argmax v[j], so the
    // UDF's double-precision assignment is exactly reproducible in SQL over
    // the float components (no ties in the corpus — verified per sf)
    QueryDef("q_ivf_cells",
      """SELECT CAST(cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT CASE
        |    WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |     AND embedding[1] >= embedding[4] THEN 0
        |    WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |    WHEN embedding[3] >= embedding[4] THEN 2
        |    ELSE 3 END AS cell
        |  FROM embeddings) t
        |GROUP BY cell ORDER BY cell NULLS FIRST""".stripMargin) { (s, d) =>
      val oneHot = Array.tabulate(4)(j => Array.tabulate(64)(i => if (i == j) 1.0 else 0.0))
      Similarity.assignCells(Tables.embeddings(s, d), "vec_id", "embedding", oneHot)
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("cell")
    },

    // --- per-cluster silhouette (session 4): centroid-form clustering
    // quality over the same one-hot cells as q_ivf_cells — both engines
    // fold the 64-dim squared distance term for term (no pow(), the
    // explicit product), so ROUND(mean, 4) compares exactly.
    QueryDef("q_cluster_silhouette",
      """WITH d AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |          AND embedding[1] >= embedding[4] THEN 0
        |         WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |         WHEN embedding[3] >= embedding[4] THEN 2 ELSE 3 END AS cell
        |  FROM embeddings),
        |dist AS (
        |  SELECT vec_id, cell,
        |    list_transform(range(0, 4), j ->
        |      list_sum(list_transform(range(1, 65), i ->
        |        (CAST(embedding[i] AS DOUBLE) -
        |          CASE WHEN i = j + 1 THEN 1.0 ELSE 0.0 END)
        |        * (CAST(embedding[i] AS DOUBLE) -
        |          CASE WHEN i = j + 1 THEN 1.0 ELSE 0.0 END)))) AS ds
        |  FROM d),
        |s AS (
        |  SELECT cell, ds[cell + 1] AS a,
        |    list_min(list_transform(range(0, 4), j ->
        |      CASE WHEN j = cell THEN CAST('infinity' AS DOUBLE)
        |           ELSE ds[j + 1] END)) AS b
        |  FROM dist),
        |sil AS (SELECT cell,
        |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
        |         ELSE 0.0 END AS s
        |  FROM s)
        |SELECT CAST(cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(AVG(s), 4) AS mean_sil
        |FROM sil GROUP BY 1 ORDER BY cell NULLS FIRST""".stripMargin) { (s, d) =>
      val oneHot = Array.tabulate(4)(j =>
        Array.tabulate(64)(i => if (i == j) 1.0 else 0.0))
      Similarity.clusterSilhouette(Tables.embeddings(s, d), "vec_id",
          "embedding", oneHot)
        .select(col("cell").cast("int").as("cell"), col("n"), col("mean_sil"))
        .orderBy("cell")
    },
  )
}
