"""Crawl-family registry queries: frontier, extraction quirks, politeness, robots, traps.

Split out of plans/driver_queries.py (round 5); query bodies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.canonicalize import canonical_url
from ba_gepris_crawler_spark.plans.queries._base import (
    _q,
    _span,
    _t,
)

# --------------------------------------------------------------------------
# crawl_* — engine kernels
# --------------------------------------------------------------------------

@_q(
    "crawl_frontier_anti_join",
    """
    WITH urls AS (
      SELECT doc_id,
             'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
    seen AS (SELECT url FROM urls WHERE doc_id % 3 = 0)
    SELECT regexp_extract(url, '^https://([^/]*)/', 1) AS host,
           CAST(count(*) AS BIGINT) AS n_new
    FROM urls WHERE url NOT IN (SELECT url FROM seen)
    GROUP BY 1 ORDER BY 1
    """,
)
def crawl_frontier_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: frontier minus seen (left_anti), grouped by host."""
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/doc/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    seen = urls.filter(F.col("doc_id") % 3 == 0).select("url")
    new = urls.join(seen, "url", "left_anti")
    return (
        new.groupBy(F.regexp_extract("url", "^https://([^/]*)/", 1).alias("host"))
        .agg(F.count("*").alias("n_new"))
        .orderBy("host")
    )


@_q(
    "crawl_url_canonicalize",
    """
    SELECT doc_id,
      CASE
        WHEN doc_id % 4 = 0 THEN 'https://host' || CAST(doc_id % 5 AS VARCHAR) || '.example.org/path/' || CAST(doc_id AS VARCHAR)
        WHEN doc_id % 4 = 1 THEN 'http://host' || CAST(doc_id % 5 AS VARCHAR) || '.example.org/path/' || CAST(doc_id AS VARCHAR) || '?x=1'
        WHEN doc_id % 8 = 2 THEN 'https://host' || CAST(doc_id % 5 AS VARCHAR) || '.example.org:80/path/' || CAST(doc_id AS VARCHAR)
        WHEN doc_id % 8 = 6 THEN 'http://host' || CAST(doc_id % 5 AS VARCHAR) || '.example.org:443/path/' || CAST(doc_id AS VARCHAR)
        ELSE 'https://host' || CAST(doc_id % 5 AS VARCHAR) || '.example.org/'
      END AS canonical
    FROM documents ORDER BY doc_id
    """,
)
def crawl_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine canonicalizer vs independently-constructed expected URLs.
    Adversarial rows: https://h:80 and http://h:443 carry NON-default ports
    that must survive canonicalization (only the scheme's own default port
    is stripped)."""
    d = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 5).cast("string")
    i = F.col("doc_id").cast("string")
    messy = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("HTTPS://Host"), k, F.lit(".Example.ORG:443/path/"), i, F.lit("#frag")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("http://host"), k, F.lit(".example.org:80/path/"), i, F.lit("?x=1")))
        .when(F.col("doc_id") % 8 == 2,
              F.concat(F.lit("https://Host"), k, F.lit(".example.org:80/path/"), i, F.lit("?")))
        .when(F.col("doc_id") % 8 == 6,
              F.concat(F.lit("http://host"), k, F.lit(".example.org:443/path/"), i))
        .otherwise(F.concat(F.lit("https://host"), k, F.lit(".example.org")))
    )
    return d.select("doc_id", canonical_url(messy).alias("canonical")).orderBy("doc_id")


@_q(
    "crawl_pagination_windows",
    """
    WITH p AS (SELECT unnest(generate_series(0,
        (SELECT CAST(ceil(count(*) / 50.0) AS BIGINT) - 1 FROM documents))) AS page)
    SELECT CAST(page AS BIGINT) AS page, CAST(page * 50 AS BIGINT) AS idx
    FROM p ORDER BY page
    """,
)
def crawl_pagination_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: total count -> ceil-div page windows (PaginatedResourceCatalogUrlsGraph)."""
    total = _t(spark, sf_dir, "documents").agg(F.count("*").alias("total"))
    return (
        total.select(F.explode(F.sequence(F.lit(0), (F.ceil(F.col("total") / 50.0) - 1).cast("int"))).alias("p"))
        .select(F.col("p").cast("bigint").alias("page"), (F.col("p") * 50).cast("bigint").alias("idx"))
        .orderBy("page")
    )


_TERM_DUCK = """
      CASE CAST(doc_id % 6 AS INT)
        WHEN 0 THEN 'Funded from ' || CAST(1998 + doc_id % 20 AS VARCHAR) || ' to ' || CAST(1998 + doc_id % 20 + doc_id % 7 AS VARCHAR)
        WHEN 1 THEN 'Funded since ' || CAST(1998 + doc_id % 20 AS VARCHAR)
        WHEN 2 THEN 'Funded in ' || CAST(1998 + doc_id % 20 AS VARCHAR)
        WHEN 3 THEN 'Funded until ' || CAST(1998 + doc_id % 20 + doc_id % 7 AS VARCHAR)
        WHEN 4 THEN 'Currently being funded'
        ELSE 'Funding period unclear'
      END
"""


@_q(
    "crawl_funding_term_cascade",
    f"""
    WITH t AS (SELECT doc_id, {_TERM_DUCK} AS term FROM documents)
    SELECT doc_id, term,
      CASE
        WHEN regexp_matches(term, 'from ([0-9]+) to ([0-9]+)') THEN regexp_extract(term, 'from ([0-9]+) to ([0-9]+)', 1)
        WHEN regexp_matches(term, 'since ([0-9]+)') THEN regexp_extract(term, 'since ([0-9]+)', 1)
        WHEN regexp_matches(term, 'Funded in ([0-9]+)') THEN regexp_extract(term, 'Funded in ([0-9]+)', 1)
        WHEN regexp_matches(term, 'until ([0-9]+)') THEN ''
        WHEN regexp_matches(term, 'Currently being funded') THEN 'ongoing'
        ELSE '' END AS start_year,
      CASE
        WHEN regexp_matches(term, 'from ([0-9]+) to ([0-9]+)') THEN regexp_extract(term, 'from ([0-9]+) to ([0-9]+)', 2)
        WHEN regexp_matches(term, 'since ([0-9]+)') THEN ''
        WHEN regexp_matches(term, 'Funded in ([0-9]+)') THEN regexp_extract(term, 'Funded in ([0-9]+)', 1)
        WHEN regexp_matches(term, 'until ([0-9]+)') THEN regexp_extract(term, 'until ([0-9]+)', 1)
        WHEN regexp_matches(term, 'Currently being funded') THEN 'ongoing'
        ELSE '' END AS end_year
    FROM t ORDER BY doc_id
    """,
)
def crawl_funding_term_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 through the REAL extraction module (functions/extraction.py
    funding_range_cols — ExtractorHelpers.scala:25-38): the fixture builds
    span sequences with a 'Term' label + content span, runs with_fields,
    and the module's five-regex first-match-wins cascade produces the
    years. The oracle replays the cascade in SQL."""
    from ba_gepris_crawler_spark.functions.extraction import (
        field_text,
        funding_range_cols,
        with_fields,
    )

    d = _t(spark, sf_dir, "documents")
    y1 = (F.lit(1998) + F.col("doc_id") % 20).cast("string")
    y2 = (F.lit(1998) + F.col("doc_id") % 20 + F.col("doc_id") % 7).cast("string")
    term = (
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.lit("Funded from "), y1, F.lit(" to "), y2))
        .when(F.col("doc_id") % 6 == 1, F.concat(F.lit("Funded since "), y1))
        .when(F.col("doc_id") % 6 == 2, F.concat(F.lit("Funded in "), y1))
        .when(F.col("doc_id") % 6 == 3, F.concat(F.lit("Funded until "), y2))
        .when(F.col("doc_id") % 6 == 4, F.lit("Currently being funded"))
        .otherwise(F.lit("Funding period unclear"))
    )
    docs = d.select(
        "doc_id",
        F.array(_span("name", "Term", None, 0), _span("text", term, None, 1)).alias("spans"),
    )
    start, end = funding_range_cols()
    return (
        with_fields(docs)
        .select(
            "doc_id",
            field_text("Term").alias("term"),
            start.alias("start_year"),
            end.alias("end_year"),
        )
        .orderBy("doc_id")
    )


@_q(
    "crawl_multivalue_split",
    """
    WITH v AS (SELECT doc_id, lang || ', ' || source || '<br> ' || lang || ', zz' AS value FROM documents)
    SELECT DISTINCT doc_id, trim(u2) AS value_item
    FROM v, unnest(string_split(value, '<br>')) AS t(u), unnest(string_split(u, ', ')) AS t2(u2)
    WHERE trim(u2) <> ''
    ORDER BY doc_id, value_item
    """,
)
def crawl_multivalue_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 through the REAL extraction module (functions/extraction.py
    multivalues): label+content span fixture -> with_fields -> the module's
    '<br>' then ', ' split with trim/drop-empty/distinct (comma-trap
    semantics reproduced from the reference)."""
    from ba_gepris_crawler_spark.functions.extraction import multivalues, with_fields

    value = F.concat(
        F.col("lang"), F.lit(", "), F.col("source"), F.lit("<br> "), F.col("lang"), F.lit(", zz")
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(_span("name", "Subject Area", None, 0), _span("text", value, None, 1)).alias("spans"),
    )
    return (
        with_fields(docs)
        .select("doc_id", F.explode(multivalues(["Subject Area"])).alias("value_item"))
        .distinct()
        .orderBy("doc_id", "value_item")
    )


@_q(
    "crawl_email_deobfuscate",
    """
    SELECT doc_id,
           regexp_replace('user' || CAST(doc_id AS VARCHAR) || '<img src="/img/at.png">' || source || '.example',
                          '<img[^<]*>', '@', 'g') AS email
    FROM documents ORDER BY doc_id
    """,
)
def crawl_email_deobfuscate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 through the REAL extraction module (functions/extraction.py
    deobfuscated_email — PersonExtractorGraph.scala:46-51): the fixture
    interleaves text spans with an img span under an 'E-Mail' label; the
    module renders the field html ('<img src=...>' piece) and replaces
    every img with '@'."""
    from ba_gepris_crawler_spark.functions.extraction import deobfuscated_email, with_fields

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            _span("name", "E-Mail", None, 0),
            _span("text", F.concat(F.lit("user"), F.col("doc_id").cast("string")), None, 1),
            _span("img", None, "/img/at.png", 2),
            _span("text", F.concat(F.col("source"), F.lit(".example")), None, 3),
        ).alias("spans"),
    )
    return with_fields(docs).select("doc_id", deobfuscated_email().alias("email")).orderBy("doc_id")


@_q(
    "crawl_link_extract",
    """
    WITH h AS (SELECT doc_id,
      CASE CAST(doc_id % 3 AS INT)
        WHEN 0 THEN '/gepris/projekt/' || CAST(doc_id AS VARCHAR)
        WHEN 1 THEN '/gepris/person/' || CAST(doc_id AS VARCHAR)
        ELSE '/other/' || CAST(doc_id AS VARCHAR) END AS href
      FROM documents)
    SELECT doc_id, regexp_extract(href, '^/gepris/projekt/([0-9]+)$', 1) AS project_id
    FROM h WHERE regexp_extract(href, '^/gepris/projekt/([0-9]+)$', 1) <> ''
    ORDER BY doc_id
    """,
)
def crawl_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 through the REAL extraction module (functions/extraction.py
    link_ids): link spans under an anchored label -> /gepris/projekt/(\\d*)
    ids in document order, non-matching hrefs dropped."""
    from ba_gepris_crawler_spark.functions.extraction import link_ids, with_fields

    href = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("/gepris/projekt/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("/gepris/person/"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("/other/"), F.col("doc_id").cast("string")))
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            _span("name", "Subproject of", None, 0), _span("link", "ref", href, 1)
        ).alias("spans"),
    )
    d = with_fields(docs).select(
        "doc_id",
        F.coalesce(
            F.try_element_at(link_ids("projekt", ["Subproject of"]), F.lit(1)), F.lit("")
        ).alias("project_id"),
    )
    return d.filter(F.col("project_id") != "").orderBy("doc_id")


@_q(
    "crawl_host_priority_queue",
    """
    WITH f AS (SELECT doc_id, 'h' || CAST(doc_id % 5 AS VARCHAR) AS host,
                      CAST(n_chars % 3 AS INT) AS priority,
                      CAST(doc_id % 4 AS INT) AS host_bucket FROM documents)
    SELECT host, priority, doc_id, rnk FROM (
      SELECT host, priority, doc_id,
             CAST(row_number() OVER (PARTITION BY host ORDER BY priority, host_bucket, doc_id) AS BIGINT) AS rnk
      FROM f) WHERE rnk <= 10
    ORDER BY host, rnk
    """,
)
def crawl_host_priority_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted priority queue through the REAL scheduler
    (operators/politeness.py schedule_round): two-level rank — local rank
    within (host, host_bucket) lifted to the exact global per-host rank via
    broadcast group offsets — then the per-host budget cut. The oracle is a
    flat window over (priority, host_bucket, url), i.e. the engine-defined
    total order; equality certifies the offset composition. The fixture
    pins a portable host_bucket (doc_id % 4) and a zero-padded url so SQL
    integer order == engine string order."""
    from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig, schedule_round

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string")).alias("host"),
        F.lit(0).cast("int").alias("crawl_depth"),
        (F.col("n_chars") % 3).cast("int").alias("priority"),
        (F.col("doc_id") % 4).cast("int").alias("host_bucket"),
    )
    cfg = PolitenessConfig(per_host_rate=10, round_seconds=1.0, max_in_flight=5)
    fetch_now, _deferred = schedule_round(d, cfg, n_buckets=4)
    return (
        fetch_now.select("host", "priority", "doc_id", F.col("host_rank").cast("bigint").alias("rnk"))
        .orderBy("host", "rnk")
    )


@_q(
    "crawl_seen_dedup_rate",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id % 97) AS BIGINT) AS n_unique,
           round(CAST(1.0 - count(DISTINCT doc_id % 97) * 1.0 / count(*) AS DOUBLE), 6) AS dedup_rate
    FROM documents
    """,
)
def crawl_seen_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-style ratio: frontier-dedup rate metric."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_urls"),
        F.countDistinct(F.col("doc_id") % 97).alias("n_unique"),
        F.round(1.0 - F.countDistinct(F.col("doc_id") % 97) / F.count("*"), 6).alias("dedup_rate"),
    )


@_q(
    "crawl_catalog_count_parse",
    """
    WITH l AS (SELECT doc_id,
      'Results 1 to 50 out of ' ||
      CASE WHEN doc_id % 2 = 0 THEN '1,234' ELSE CAST(doc_id % 999 AS VARCHAR) END || ' on 2018-10-20' AS line
      FROM documents)
    SELECT doc_id, CAST(replace(regexp_extract(line, 'out of ([0-9,]*) on', 1), ',', '') AS BIGINT) AS total
    FROM l ORDER BY doc_id
    """,
)
def crawl_catalog_count_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: 'out of ([\\d,]*) on' -> strip commas -> int."""
    d = _t(spark, sf_dir, "documents")
    line = F.concat(
        F.lit("Results 1 to 50 out of "),
        F.when(F.col("doc_id") % 2 == 0, F.lit("1,234")).otherwise((F.col("doc_id") % 999).cast("string")),
        F.lit(" on 2018-10-20"),
    )
    total = F.regexp_replace(F.regexp_extract(line, "out of ([0-9,]*) on", 1), ",", "").cast("bigint")
    return d.select("doc_id", total.alias("total")).orderBy("doc_id")


@_q(
    "crawl_span_adjacency",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ')[1:40] AS ts FROM documents),
    s AS (SELECT doc_id, unnest(ts) AS tok,
                 unnest(range(1, len(ts) + 1)) AS span_off
          FROM toks),
    p AS (SELECT doc_id, span_off, tok,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY span_off) AS nxt
          FROM s)
    SELECT doc_id, CAST(span_off AS BIGINT) AS span_off,
           tok AS field_name, nxt AS field_value
    FROM p WHERE span_off % 2 = 1 AND nxt IS NOT NULL
    ORDER BY doc_id, span_off
    """,
)
def crawl_span_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+F4: ordered span sequence per document, label/value pairing by
    adjacency (GenericFieldExtractorGraph.scala:73-83: every `.name` span's
    value is the next sibling span). posexplode preserves array order; the
    pairing is a lead() window keyed on the span offset."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.slice(F.split("text", " "), 1, 40).alias("ts")
    )
    s = d.select("doc_id", F.posexplode("ts").alias("pos", "tok")).select(
        "doc_id", (F.col("pos") + 1).cast("bigint").alias("span_off"), "tok"
    )
    w = Window.partitionBy("doc_id").orderBy("span_off")
    p = s.withColumn("nxt", F.lead("tok").over(w))
    return (
        p.filter((F.col("span_off") % 2 == 1) & F.col("nxt").isNotNull())
        .select("doc_id", "span_off", F.col("tok").alias("field_name"), F.col("nxt").alias("field_value"))
        .orderBy("doc_id", "span_off")
    )


@_q(
    "crawl_address_assembly",
    """
    WITH a AS (SELECT c_custkey,
        c_name || '<br> Street ' || CAST(c_custkey AS VARCHAR) || ' <br>City ' ||
        CAST(c_custkey % 50 AS VARCHAR) AS addr_html FROM customer),
    sp AS (SELECT c_custkey, string_split(addr_html, '<br>') AS parts FROM a)
    SELECT c_custkey, trim(parts[1]) AS institution_name,
           array_to_string(list_transform(parts[2:], x -> trim(x)), chr(10)) AS address
    FROM sp ORDER BY c_custkey
    """,
)
def crawl_address_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: Address field split on <br>; head = institution name, the rest
    re-joined with newlines (PersonExtractorGraph.scala:17-27)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_name"), F.lit("<br> Street "), F.col("c_custkey").cast("string"),
            F.lit(" <br>City "), (F.col("c_custkey") % 50).cast("string"),
        ).alias("addr_html"),
    )
    parts = F.split("addr_html", "<br>")
    return c.select(
        "c_custkey",
        F.trim(F.element_at(parts, 1)).alias("institution_name"),
        F.expr(
            "array_join(transform(slice(split(addr_html, '<br>'), 2, size(split(addr_html, '<br>')) - 1),"
            " x -> trim(x)), '\\n')"
        ).alias("address"),
    ).orderBy("c_custkey")


@_q(
    "crawl_parent_hierarchy",
    """
    SELECT c.doc_id, CAST(c.doc_id // 10 AS BIGINT) AS parent_id,
           p.source AS parent_source
    FROM documents c JOIN documents p ON p.doc_id = c.doc_id // 10
    ORDER BY c.doc_id
    """,
)
def crawl_parent_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: parent_project_id self-join (extracted at
    ProjectExtractorGraph.scala:41-43; column DTOs.scala:46)."""
    d = _t(spark, sf_dir, "documents")
    child = d.select("doc_id", F.floor(F.col("doc_id") / 10).cast("bigint").alias("parent_id"))
    parent = d.select(F.col("doc_id").alias("parent_id"), F.col("source").alias("parent_source"))
    return child.join(parent, "parent_id").select("doc_id", "parent_id", "parent_source").orderBy("doc_id")


@_q(
    "crawl_json_api_parse",
    """
    WITH j AS (SELECT doc_id,
      '{"id": ' || CAST(doc_id AS VARCHAR) || ', "type": "' ||
      CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'projekt' WHEN 1 THEN 'person' ELSE 'institution' END ||
      '", "title": "Resource ' || CAST(doc_id AS VARCHAR) || '"}' AS payload
      FROM documents)
    SELECT doc_id,
           CAST(json_extract(payload, '$.id') AS BIGINT) AS rid,
           json_extract_string(payload, '$.type') AS rtype,
           json_extract_string(payload, '$.title') AS title
    FROM j ORDER BY doc_id
    """,
)
def crawl_json_api_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the reference's dormant JSON-API source
    (CrawledResourceDetailDataFromJsonAPIGraph.scala:15-46) — fetched JSON
    payload parsed with from_json into typed columns."""
    d = _t(spark, sf_dir, "documents")
    rtype = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("projekt"))
        .when(F.col("doc_id") % 3 == 1, F.lit("person"))
        .otherwise(F.lit("institution"))
    )
    payload = F.concat(
        F.lit('{"id": '), F.col("doc_id").cast("string"),
        F.lit(', "type": "'), rtype,
        F.lit('", "title": "Resource '), F.col("doc_id").cast("string"), F.lit('"}'),
    )
    parsed = F.from_json(payload, "id bigint, type string, title string")
    return d.select(
        "doc_id",
        parsed["id"].alias("rid"),
        parsed["type"].alias("rtype"),
        parsed["title"].alias("title"),
    ).orderBy("doc_id")


@_q(
    "crawl_robots_filter",
    """
    WITH f AS (SELECT doc_id, 'h' || CAST(doc_id % 4 AS VARCHAR) || '.example.org' AS host,
                      CASE WHEN doc_id % 5 = 0 THEN '/private/' ELSE '/public/' END ||
                      CAST(doc_id AS VARCHAR) AS path
               FROM documents)
    SELECT doc_id, host, path FROM f
    WHERE NOT (host = 'h1.example.org' AND regexp_matches(path, '^/private/'))
      AND NOT (host = 'h2.example.org' AND regexp_matches(path, '.*'))
    ORDER BY doc_id
    """,
)
def crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness robots.txt disallow filter (operators/politeness.py
    apply_robots): per-host path-regex disallows compiled into the plan —
    h1 blocks /private/*, h2 blocks everything."""
    from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig, apply_robots

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("string"), F.lit(".example.org")).alias("host"),
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit("/private/")).otherwise(F.lit("/public/")),
            F.col("doc_id").cast("string"),
        ).alias("path"),
    ).withColumn("url", F.col("path"))
    cfg = PolitenessConfig(disallow=(("h1.example.org", "^/private/"), ("h2.example.org", ".*")))
    return apply_robots(d, cfg).select("doc_id", "host", "path").orderBy("doc_id")


@_q(
    "crawl_cookie_parse",
    """
    WITH h AS (SELECT doc_id,
      'JSESSIONID=tok' || CAST(doc_id AS VARCHAR) || '; Path=/gepris; HttpOnly' ||
      CASE WHEN doc_id % 2 = 0 THEN '; Secure' ELSE '' END AS header
      FROM documents)
    SELECT doc_id,
           regexp_extract(header, '^\\s*([^=;\\s]+)=', 1) AS cookie_name,
           regexp_extract(header, '^\\s*[^=;\\s]+=([^;]*)', 1) AS cookie_value,
           regexp_extract(header, '(?i);\\s*Path=([^;]*)', 1) AS cookie_path,
           regexp_matches(header, '(?i);\\s*HttpOnly(;|$)') AS http_only,
           regexp_matches(header, '(?i);\\s*Secure(;|$)') AS secure
    FROM h ORDER BY doc_id
    """,
)
def crawl_cookie_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13/S9 through the REAL module (operators/cookies.py
    cookie_field_cols): native-expression Set-Cookie parse — name, value,
    Path, HttpOnly/Secure flags (reference parses the landing page's
    Set-Cookie header, CookieFlowGraph.scala:39-44)."""
    from ba_gepris_crawler_spark.operators.cookies import cookie_field_cols

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("JSESSIONID=tok"), F.col("doc_id").cast("string"),
            F.lit("; Path=/gepris; HttpOnly"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("; Secure")).otherwise(F.lit("")),
        ).alias("header"),
    )
    cols = cookie_field_cols("header")
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()]).orderBy("doc_id")


@_q(
    "crawl_robots_allow_filter",
    """
    WITH f AS (SELECT doc_id,
      'h' || CAST(doc_id % 2 AS VARCHAR) || '.example.org' AS host,
      'https://h' || CAST(doc_id % 2 AS VARCHAR) || '.example.org' ||
      CASE WHEN doc_id % 5 = 0 THEN '/private/' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 5 = 1 THEN '/private/press/' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 5 = 2 THEN '/docs/f' || CAST(doc_id AS VARCHAR) || '.pdf'
           WHEN doc_id % 5 = 3 THEN '/docs/f' || CAST(doc_id AS VARCHAR) || '.pdf?x=1'
           ELSE '/public/' || CAST(doc_id AS VARCHAR) END AS url
      FROM documents)
    SELECT doc_id, host, url FROM f
    WHERE NOT (host = 'h1.example.org' AND (
        (url LIKE '%.example.org/private/%' AND url NOT LIKE '%.example.org/private/press/%')
        OR url LIKE '%.pdf'))
    ORDER BY doc_id
    """,
)
def crawl_robots_allow_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-9309 Allow/wildcard robots evaluation end to end through the
    REAL modules (politeness.parse_robots_rules -> politeness_from_robots
    -> apply_robots): h1's robots Disallows /private/ but an Allow carves
    the /private/press/ hole (longest match wins), and a '/*.pdf$' pattern
    blocks by suffix — the trailing '$' anchors the URL end, so '.pdf?x=1'
    stays crawlable. h0 serves no robots and is untouched. Beyond the
    reference (which has no robots at all); the oracle replays the net
    keep-set with LIKE algebra."""
    from ba_gepris_crawler_spark.operators.politeness import (
        PolitenessConfig,
        apply_robots,
        politeness_from_robots,
    )

    txt = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/press/\n"
        "Disallow: /*.pdf$\n"
    )
    cfg = politeness_from_robots(PolitenessConfig(), {"h1.example.org": txt})
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 2).cast("string"), F.lit(".example.org")).alias("host"),
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 2).cast("string"), F.lit(".example.org"),
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private/"), F.col("doc_id").cast("string")))
            .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/private/press/"), F.col("doc_id").cast("string")))
            .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("/docs/f"), F.col("doc_id").cast("string"), F.lit(".pdf")))
            .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("/docs/f"), F.col("doc_id").cast("string"), F.lit(".pdf?x=1")))
            .otherwise(F.concat(F.lit("/public/"), F.col("doc_id").cast("string"))),
        ).alias("url"),
    )
    return apply_robots(d, cfg).select("doc_id", "host", "url").orderBy("doc_id")


@_q(
    "crawl_robots_distributed_parse",
    """
    WITH f AS (SELECT doc_id,
      'h' || CAST(doc_id % 3 AS VARCHAR) || '.example.org' AS host,
      CAST(doc_id % 3 AS VARCHAR) AS i,
      CASE WHEN doc_id % 5 = 0 THEN '/private' || CAST(doc_id % 3 AS VARCHAR) || '/' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 5 = 1 THEN '/private' || CAST(doc_id % 3 AS VARCHAR) || '/press/' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 5 = 2 THEN '/docs/f' || CAST(doc_id AS VARCHAR) || '.pdf'
           WHEN doc_id % 5 = 3 THEN '/docs/f' || CAST(doc_id AS VARCHAR) || '.pdf?x=1'
           ELSE '/public/' || CAST(doc_id AS VARCHAR) END AS path
      FROM documents)
    SELECT doc_id, host, 'https://' || host || path AS url FROM f
    WHERE NOT ((path LIKE '/private' || i || '/%' AND path NOT LIKE '/private' || i || '/press/%')
               OR path LIKE '%.pdf')
    ORDER BY doc_id
    """,
)
def crawl_robots_distributed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-scale robots transport end to end: robots.txt BODIES as a
    DataFrame -> parse_robots_rules_distributed (Arrow-batched mapInPandas
    over the same RFC-9309 state machine the driver path uses) ->
    apply_robots_rules (per-host sorted rule arrays joined onto the
    frontier, longest-match via one array HOF). Nothing — bodies, rules,
    or decisions — transits the driver, the regime for 10^6+ robots'd
    hosts where the cfg-literal path (crawl_robots_allow_filter) cannot
    hold. Each of 3 hosts Disallows /private{i}/ with an Allow carving
    /private{i}/press/ and a '/*.pdf$' suffix block; the oracle replays
    the keep-set with LIKE algebra."""
    from ba_gepris_crawler_spark.operators.politeness import (
        apply_robots_rules,
        parse_robots_rules_distributed,
    )

    robots = spark.range(3).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example.org")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private"), F.col("id").cast("string"),
            F.lit("/\nAllow: /private"), F.col("id").cast("string"),
            F.lit("/press/\nDisallow: /*.pdf$\n"),
        ).alias("robots_txt"),
    )
    rules = parse_robots_rules_distributed(robots)
    i = (F.col("doc_id") % 3).cast("string")
    did = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private"), i, F.lit("/"), did))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/private"), i, F.lit("/press/"), did))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("/docs/f"), did, F.lit(".pdf")))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("/docs/f"), did, F.lit(".pdf?x=1")))
        .otherwise(F.concat(F.lit("/public/"), did))
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), i, F.lit(".example.org")).alias("host"),
        F.concat(F.lit("https://h"), i, F.lit(".example.org"), path).alias("url"),
    )
    return apply_robots_rules(d, rules).select("doc_id", "host", "url").orderBy("doc_id")


@_q(
    "crawl_robots_txt_parse",
    """
    WITH f AS (SELECT doc_id,
      'h' || CAST(doc_id % 4 AS VARCHAR) || '.example.org' AS host,
      'https://h' || CAST(doc_id % 4 AS VARCHAR) || '.example.org' ||
      CASE WHEN doc_id % 5 = 0 THEN '/private/' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 5 = 1 THEN '/tmp/f' || CAST(doc_id AS VARCHAR) || '.bak'
           ELSE '/public/' || CAST(doc_id AS VARCHAR) END AS url
      FROM documents)
    SELECT doc_id, host, url FROM f
    WHERE NOT (host = 'h1.example.org' AND (url LIKE '%/private/%' OR url LIKE '%.bak'))
      AND NOT (host = 'h2.example.org')
    ORDER BY doc_id
    """,
)
def crawl_robots_txt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt text -> parsed disallow rules -> plan filter, end to end
    through the REAL module (politeness.parse_robots + apply_robots): h1
    serves a robots.txt disallowing /private/ and /tmp/*.bak for the
    wildcard agent (plus an inapplicable googlebot group), h2 disallows
    everything. The robots fetch+parse is driver-side once per host (the
    broadcast robots-cache analog); the oracle replays the net filter."""
    from ba_gepris_crawler_spark.operators.politeness import (
        PolitenessConfig,
        apply_robots,
        parse_robots,
    )

    h1_txt = (
        "User-agent: googlebot\nDisallow: /only-google/\n\n"
        "User-agent: *\nDisallow: /private/\nDisallow: /tmp/*.bak\n"
    )
    h2_txt = "User-agent: *\nDisallow: /\n"
    cfg = PolitenessConfig(
        disallow=parse_robots("h1.example.org", h1_txt) + parse_robots("h2.example.org", h2_txt)
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("string"), F.lit(".example.org")).alias("host"),
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 4).cast("string"), F.lit(".example.org"),
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private/"), F.col("doc_id").cast("string")))
            .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/tmp/f"), F.col("doc_id").cast("string"), F.lit(".bak")))
            .otherwise(F.concat(F.lit("/public/"), F.col("doc_id").cast("string"))),
        ).alias("url"),
    )
    return apply_robots(d, cfg).select("doc_id", "host", "url").orderBy("doc_id")


@_q(
    "crawl_crawl_delay_budget",
    """
    WITH f AS (SELECT doc_id, 'h' || CAST(doc_id % 3 AS VARCHAR) AS host,
                      CAST(doc_id % 4 AS INT) AS host_bucket FROM documents),
    r AS (SELECT host, doc_id,
                 row_number() OVER (PARTITION BY host
                     ORDER BY host_bucket, lpad(CAST(doc_id AS VARCHAR), 10, '0')) AS rnk
          FROM f),
    b AS (SELECT host, CASE host WHEN 'h0' THEN 2 WHEN 'h1' THEN 4 ELSE 20 END AS budget, rnk
          FROM r)
    SELECT host, CAST(max(budget) AS BIGINT) AS budget,
           CAST(sum(CASE WHEN rnk <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_fetch_now,
           CAST(sum(CASE WHEN rnk > budget THEN 1 ELSE 0 END) AS BIGINT) AS n_deferred
    FROM b GROUP BY host ORDER BY host
    """,
)
def crawl_crawl_delay_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt Crawl-delay -> per-host token-bucket budgets, end to end
    through the REAL modules (politeness.parse_crawl_delay ->
    politeness_from_robots -> schedule_round): h0 serves Crawl-delay 0.5
    (rate 2/s -> budget 2; an inapplicable googlebot group says 9), h1
    serves 0.25 (budget 4), h2 serves no robots and keeps the default rate
    20 (budget 20). The budget is applied as a literal when-cascade — the
    broadcast robots-cache analog, no join. The oracle replays the per-host
    rank + CASE budget cut."""
    from ba_gepris_crawler_spark.operators.politeness import (
        PolitenessConfig,
        politeness_from_robots,
        schedule_round,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 3).cast("string")).alias("host"),
        F.lit(0).cast("int").alias("crawl_depth"),
        F.lit(0).cast("int").alias("priority"),
        (F.col("doc_id") % 4).cast("int").alias("host_bucket"),
    )
    base = PolitenessConfig(per_host_rate=20, round_seconds=1.0, max_in_flight=5)
    robots = {
        "h0": "User-agent: googlebot\nCrawl-delay: 9\n\n"
              "User-agent: *\nDisallow:\nCrawl-delay: 0.5\n",
        "h1": "User-agent: *\nCrawl-delay: 0.25\n",
    }
    cfg = politeness_from_robots(base, robots)
    fetch_now, deferred = schedule_round(d, cfg, n_buckets=4)
    fn = fetch_now.groupBy("host").agg(F.count(F.lit(1)).alias("n_fetch_now"))
    dn = deferred.groupBy("host").agg(F.count(F.lit(1)).alias("n_deferred"))
    return (
        fn.join(dn, "host", "full")
        .select(
            "host",
            cfg.budget_col("host").cast("bigint").alias("budget"),
            F.coalesce("n_fetch_now", F.lit(0)).alias("n_fetch_now"),
            F.coalesce("n_deferred", F.lit(0)).alias("n_deferred"),
        )
        .orderBy("host")
    )


@_q(
    "crawl_budget_relation_cut",
    """
    WITH f AS (SELECT doc_id, 'h' || CAST(doc_id % 3 AS VARCHAR) AS host,
                      CAST(doc_id % 4 AS INT) AS host_bucket FROM documents),
    r AS (SELECT host, doc_id,
                 row_number() OVER (PARTITION BY host
                     ORDER BY host_bucket, lpad(CAST(doc_id AS VARCHAR), 10, '0')) AS rnk
          FROM f),
    b AS (SELECT host,
                 CASE host WHEN 'h0' THEN 2 WHEN 'h1' THEN 4 ELSE 20 END AS budget,
                 CASE host WHEN 'h0' THEN 2.0 WHEN 'h1' THEN 4.0 ELSE 20.0 END AS rate,
                 rnk FROM r)
    SELECT host, CAST(max(rate) AS DOUBLE) AS host_rate,
           CAST(sum(CASE WHEN rnk <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_fetch_now,
           CAST(sum(CASE WHEN rnk > budget THEN 1 ELSE 0 END) AS BIGINT) AS n_deferred
    FROM b GROUP BY host ORDER BY host
    """,
)
def crawl_budget_relation_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The budgets RELATION end to end through the REAL modules
    (politeness.crawl_delay_budgets -> schedule_round(budgets_df=...)) —
    the web-scale form of Crawl-delay politeness where per-host budgets
    are data, not config literals. Pins the relation's hardening: h0
    appears TWICE in the robots relation (0.5s and 0.125s delays; the
    host dedup keeps the most conservative -> budget 2, rate 2/s), h2
    serves a hostile 'Crawl-delay: nan' (ignored like malformed -> the
    default budget 20), and the resolved pages/sec rides fetch_now as
    `host_rate` — the column fetch_pages prices virtual cost from. The
    oracle replays the per-host rank + CASE budget cut with the deduped
    budgets."""
    from ba_gepris_crawler_spark.operators.politeness import (
        PolitenessConfig,
        crawl_delay_budgets,
        schedule_round,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 3).cast("string")).alias("host"),
        F.lit(0).cast("int").alias("crawl_depth"),
        F.lit(0).cast("int").alias("priority"),
        (F.col("doc_id") % 4).cast("int").alias("host_bucket"),
    )
    base = PolitenessConfig(per_host_rate=20, round_seconds=1.0, max_in_flight=5)
    robots = spark.createDataFrame(
        [
            ("h0", "User-agent: *\nCrawl-delay: 0.5\n"),
            ("h0", "User-agent: *\nCrawl-delay: 0.125\n"),  # dup host: conservative wins
            ("h1", "User-agent: *\nCrawl-delay: 0.25\n"),
            ("h2", "User-agent: *\nCrawl-delay: nan\n"),  # hostile: ignored -> default
        ],
        "host string, robots_txt string",
    )
    fetch_now, deferred = schedule_round(
        d, base, n_buckets=4, budgets_df=crawl_delay_budgets(robots, base)
    )
    fn = fetch_now.groupBy("host").agg(
        F.max("host_rate").alias("host_rate"),
        F.count(F.lit(1)).alias("n_fetch_now"),
    )
    dn = deferred.groupBy("host").agg(F.count(F.lit(1)).alias("n_deferred"))
    return (
        fn.join(dn, "host", "full")
        .select(
            "host",
            "host_rate",
            F.coalesce("n_fetch_now", F.lit(0)).alias("n_fetch_now"),
            F.coalesce("n_deferred", F.lit(0)).alias("n_deferred"),
        )
        .orderBy("host")
    )


@_q(
    "crawl_trap_filter",
    """
    WITH u AS (
      SELECT doc_id,
        CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/gepris/projekt/' || CAST(doc_id AS VARCHAR) || '?language=en'
          WHEN 1 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/cal/' || repeat('2024/', CAST(doc_id % 20 AS INT)) || 'index.html'
          WHEN 2 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/a/b' || repeat('/a', CAST(doc_id % 6 AS INT))
          WHEN 3 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/search?' || array_to_string(list_transform(range(1, CAST(doc_id % 12 AS BIGINT) + 2), i -> 'p' || CAST(i AS VARCHAR) || '=' || CAST(i AS VARCHAR)), '&')
          ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/' || repeat('x', CAST(doc_id % 40 AS INT) * 20)
        END AS url
      FROM documents),
    s AS (
      SELECT doc_id, url,
        CAST(length(url) AS INT) AS url_len,
        CAST(len(list_filter(string_split(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*([^?#]*)', 1), '/'), x -> x <> '')) AS INT) AS path_depth,
        CAST(CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) = '' THEN 0
             ELSE len(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&')) END AS INT) AS n_params,
        CAST(coalesce(list_max(list_transform(
               list_filter(string_split(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*([^?#]*)', 1), '/'), x -> x <> ''),
               s -> len(list_filter(
                 list_filter(string_split(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*([^?#]*)', 1), '/'), x -> x <> ''),
                 x -> x = s)))), 0) AS INT) AS seg_repeat
      FROM u)
    SELECT doc_id, url_len, path_depth, n_params, seg_repeat,
           (url_len > 120 OR path_depth > 6 OR n_params > 8 OR seg_repeat >= 3) AS is_trap
    FROM s ORDER BY doc_id
    """,
)
def crawl_trap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap heuristics through the REAL module
    (operators/frontier.py trap_heuristics — new open-web design, the
    reference crawls one known site and has no trap surface): synthesized
    URL families cover healthy detail pages, infinite-calendar paths,
    /a/b/a/a repeated-segment loops, parameter explosions, and over-long
    URLs; the operator scores url_len / path_depth / n_params /
    seg_repeat and flags is_trap, all in Catalyst higher-order functions
    (no UDF, no shuffle)."""
    from ba_gepris_crawler_spark.operators.frontier import trap_heuristics

    d = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 7).cast("string")
    i = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("https://h"), k, F.lit(".example.org/gepris/projekt/"), i, F.lit("?language=en")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("https://h"), k, F.lit(".example.org/cal/"),
                       F.repeat(F.lit("2024/"), (F.col("doc_id") % 20).cast("int")), F.lit("index.html")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("https://h"), k, F.lit(".example.org/a/b"),
                       F.repeat(F.lit("/a"), (F.col("doc_id") % 6).cast("int"))))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("https://h"), k, F.lit(".example.org/search?"),
                       F.array_join(F.transform(
                           F.sequence(F.lit(1), (F.col("doc_id") % 12 + 1).cast("int")),
                           lambda x: F.concat(F.lit("p"), x.cast("string"), F.lit("="), x.cast("string"))), "&")))
        .otherwise(F.concat(F.lit("https://h"), k, F.lit(".example.org/"),
                            F.repeat(F.lit("x"), ((F.col("doc_id") % 40) * 20).cast("int"))))
    )
    scored = trap_heuristics(
        d.select("doc_id", url.alias("url")),
        max_len=120, max_depth=6, max_params=8, max_seg_repeat=3,
    )
    return scored.select(
        "doc_id", "url_len", "path_depth", "n_params", "seg_repeat", "is_trap"
    ).orderBy("doc_id")


@_q(
    "crawl_catalog_null_guard",
    """
    WITH d AS (SELECT doc_id,
        CASE WHEN doc_id % 5 IN (0, 1) THEN NULL
             ELSE CAST(doc_id % 199 AS BIGINT) END AS total,
        CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'project'
             WHEN 1 THEN 'person' ELSE 'institution' END AS resource_type
      FROM documents)
    SELECT resource_type,
           CAST(SUM(CASE WHEN coalesce(total, 0) > 0
                         THEN CAST(ceil(total / 50.0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS n_page_urls,
           CAST(SUM(CASE WHEN total IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unparsable_docs
    FROM d GROUP BY resource_type ORDER BY resource_type
    """,
)
def crawl_catalog_null_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5+F9 null-guard: catalog pagination over the REAL discovery kernel
    (operators/frontier.discovered_urls), pinning that an unparsable
    result total (regex miss -> try_cast NULL, or empty digit run) emits
    ZERO page URLs — not the hostile-input cap's worth. least() skips
    nulls in Spark, so the capped total must be computed inside the null
    guard; the oracle replays the per-doc page-count arithmetic
    (ceil(total/hits)) and the null/zero cases in plain SQL."""
    from ba_gepris_crawler_spark.operators.frontier import discovered_urls
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    cfg = SiteConfig(hosts=("h.example.org",), n_projects=3, n_persons=3,
                     n_institutions=3, hits_per_page=50, seed=1)
    d = _t(spark, sf_dir, "documents")
    line = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("Results 1 to 50 out of — truncated"))
        .when(F.col("doc_id") % 5 == 1, F.lit("Results 1 to 50 out of , on 2018-10-20"))
        .otherwise(F.concat(
            F.lit("Results 1 to 50 out of "),
            (F.col("doc_id") % 199).cast("string"),
            F.lit(" on 2018-10-20"),
        ))
    )
    rtype = F.element_at(
        F.expr("map(0, 'project', 1, 'person', 2, 'institution')"),
        (F.col("doc_id") % 3).cast("int"),
    )
    docs = d.select(
        F.lit("h.example.org").alias("host"),
        rtype.alias("resource_type"),
        F.lit(None).cast("string").alias("resource_id"),
        F.lit(0).cast("int").alias("crawl_depth"),
        F.array(F.struct(
            F.lit("text").alias("kind"),
            line.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )).alias("spans"),
    )
    pages = discovered_urls(docs, cfg, 1).groupBy("resource_type").agg(
        F.count("*").cast("bigint").alias("n_page_urls")
    )
    # unparsable docs contribute no rows to `pages`, so count them on the
    # input side and join — a type whose docs were ALL unparsable still
    # appears (left join from the input-type frame, zero-filled)
    # EXACTLY the engine's parse — the literal shared fragment, not a
    # copy: a regex miss yields '' and a lone comma strips to '' — both
    # try_cast to NULL ('[0-9,]+' rlike would wrongly call the comma case
    # parsable). Formatting frontier.CATALOG_TOTAL_SQL in means a future
    # parse tweak cannot silently diverge this pin from discovered_urls.
    from ba_gepris_crawler_spark.operators.frontier import (
        CATALOG_TOTAL_SQL,
        SPANS_TEXT_SQL,
    )

    unparsable = docs.withColumn(
        "is_null_total",
        F.expr(
            "CASE WHEN "
            + CATALOG_TOTAL_SQL.format(text=SPANS_TEXT_SQL)
            + " IS NULL THEN 1 ELSE 0 END"
        ),
    ).groupBy("resource_type").agg(
        F.sum("is_null_total").cast("bigint").alias("n_unparsable_docs")
    )
    return unparsable.join(pages, "resource_type", "left").select(
        "resource_type",
        F.coalesce("n_page_urls", F.lit(0).cast("bigint")).alias("n_page_urls"),
        "n_unparsable_docs",
    ).orderBy("resource_type")


@_q(
    "crawl_redirect_resolve",
    """
    WITH RECURSIVE d AS (
      SELECT doc_id AS i, CAST(doc_id % 10 AS INT) AS m FROM documents),
    e AS (
      SELECT 'https://r.example.org/u' || CAST(i AS VARCHAR) AS src,
             CASE WHEN m IN (0, 1, 2, 5)
                    THEN 'https://r.example.org/u' || CAST(i + 1 AS VARCHAR)
                  WHEN m = 6
                    THEN 'https://r.example.org/u' || CAST(i - 1 AS VARCHAR)
                  ELSE 'https://gone.example.org/' || CAST(i AS VARCHAR) END AS dst
      FROM d WHERE m IN (0, 1, 2, 5, 6, 8)),
    walk(src, cur, hops) AS (
      SELECT src, dst, 1 FROM e
      UNION ALL
      SELECT w.src, e2.dst, w.hops + 1 FROM walk w
        JOIN e e2 ON w.cur = e2.src WHERE w.hops < 2),
    last AS (
      SELECT src, max_by(cur, hops) AS cur, max(hops) AS hops
      FROM walk GROUP BY src),
    srcs AS (SELECT DISTINCT src FROM e)
    SELECT l.src,
           coalesce(CASE WHEN s.src IS NULL AND l.hops <= 2 THEN l.cur END,
                    '') AS final_url,
           CAST(l.hops AS INT) AS hops,
           (s.src IS NULL AND l.hops <= 2) AS resolved
    FROM last l LEFT JOIN srcs s ON l.cur = s.src
    ORDER BY l.src
    """,
)
def crawl_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP 3xx chain resolution through the REAL modules
    (operators/redirects.redirect_edges -> resolve_redirects): Location
    headers absolutize against the source URL (path-only '/u{i+1}' forms
    exercise RFC 3986 resolution), then POINTER DOUBLING chases chains in
    ceil(log2(max_hops)) co-keyed self-joins instead of max_hops
    sequential ones — the log-round trick that keeps a 10^10-edge
    redirect graph at 4 shuffles for a 10-hop cap. Fixture classes by
    doc_id % 10: 0/1/2 form 3-hop chains (the head exceeds max_hops=2 ->
    unresolved), 5/6 form 2-loops (never terminate -> unresolved), 8
    redirects once to a terminal. The oracle replays the walk with a
    recursive CTE bounded at the doubling horizon. Beyond the reference
    (its fetch treats every non-200 as fatal,
    CrawledResourceDetailDataGraph.scala:43-46)."""
    from ba_gepris_crawler_spark.operators.redirects import (
        redirect_edges,
        resolve_redirects,
    )

    d = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 10).cast("int")
    i = F.col("doc_id").cast("string")
    nxt = (F.col("doc_id") + 1).cast("string")
    prv = (F.col("doc_id") - 1).cast("string")
    status = (
        F.when(m.isin(0, 1, 2), F.lit(301))
        .when(m.isin(5, 6), F.lit(302))
        .when(m == 8, F.lit(308))
        .otherwise(F.lit(200))
    ).cast("int")
    location = (
        F.when(m.isin(0, 1, 2, 5), F.concat(F.lit("/u"), nxt))  # path-only form
        .when(m == 6, F.concat(F.lit("https://r.example.org/u"), prv))
        .when(m == 8, F.concat(F.lit("https://gone.example.org/"), i))
    )
    fetched = d.select(
        F.concat(F.lit("https://r.example.org/u"), i).alias("url"),
        status.alias("status"),
        location.alias("location"),
    )
    edges = redirect_edges(fetched)
    res = resolve_redirects(edges, max_hops=2)
    # unresolved rows carry final_url NULL by contract; the driver's
    # row-sort compare can't order NULL vs str, so '' stands in here
    return res.select(
        "src", F.coalesce("final_url", F.lit("")).alias("final_url"),
        "hops", "resolved",
    ).orderBy("src")


@_q(
    "crawl_sitemap_parse",
    """
    SELECT 'h' || CAST(doc_id % 3 AS VARCHAR) || '.example.org' AS host,
           'https://h' || CAST(doc_id % 3 AS VARCHAR) || '.example.org/p?id='
             || CAST(doc_id AS VARCHAR) || '&lang=en' AS loc,
           '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'daily'
                WHEN 1 THEN 'weekly' ELSE '(invalid)' END AS changefreq,
           round(CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE), 2) AS priority
    FROM documents ORDER BY loc
    """,
)
def crawl_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion end to end through the REAL module
    (operators/sitemaps.parse_sitemap_entries): per-host <urlset> XML is
    BUILT in the plan (entity-escaped &amp; in the locs, mixed-case
    changefreq validity, single-digit priorities), then parsed back as a
    DataFrame relation — regexp_extract_all block split + per-field
    anchored regex + XML entity decode, nothing on the driver (the
    distributed-robots transport pattern). 'bogus' changefreq nulls out
    (not one of the seven spec values); the oracle emits the expected
    entries directly, so the build->parse round-trip must be lossless."""
    from ba_gepris_crawler_spark.operators.sitemaps import parse_sitemap_entries

    d = _t(spark, sf_dir, "documents")
    j = (F.col("doc_id") % 3).cast("string")
    i = F.col("doc_id").cast("string")
    frag = F.concat(
        F.lit("<url>\n  <loc> https://h"), j, F.lit(".example.org/p?id="), i,
        F.lit("&amp;lang=en </loc>\n  <lastmod>2026-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod>\n  <changefreq>"),
        F.element_at(F.array(F.lit("DAILY"), F.lit("weekly"), F.lit("bogus")),
                     (F.col("doc_id") % 3).cast("int") + 1),
        F.lit("</changefreq>\n  <priority>0."), (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority>\n</url>\n"),
    )
    bodies = (
        d.select(F.concat(F.lit("h"), j, F.lit(".example.org")).alias("host"),
                 F.struct(F.col("doc_id"), frag.alias("frag")).alias("s"))
        .groupBy("host")
        .agg(F.concat(
            F.lit('<?xml version="1.0"?>\n<urlset>\n'),
            F.array_join(F.transform(F.array_sort(F.collect_list("s")), lambda x: x["frag"]), ""),
            F.lit("</urlset>"),
        ).alias("body"))
        .withColumn("sitemap_url", F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap.xml")))
    )
    entries = parse_sitemap_entries(bodies.select("host", "sitemap_url", "body"))
    # spec-invalid changefreq nulls out by contract; '(invalid)' stands in
    # for the driver's NULL-unsortable row compare
    return entries.select(
        "host", "loc", "lastmod",
        F.coalesce("changefreq", F.lit("(invalid)")).alias("changefreq"),
        F.round(F.col("priority"), 2).alias("priority"),
    ).orderBy("loc")


@_q(
    "crawl_recrawl_schedule",
    """
    WITH h AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS url, CAST(r.r AS INT) AS rnd,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'a'
               WHEN 1 THEN 'h' || CAST(r.r AS VARCHAR)
               ELSE CASE WHEN r.r < 3 THEN 'a' ELSE 'b' END END AS ch
      FROM documents, (SELECT unnest(range(5)) AS r) r),
    m AS (
      SELECT url, rnd,
             CASE WHEN lag(ch) OVER w IS NULL THEN 0
                  WHEN ch <> lag(ch) OVER w THEN 1 ELSE 0 END AS c
      FROM h WINDOW w AS (PARTITION BY url ORDER BY rnd)),
    p AS (
      SELECT url, CAST(count(*) AS BIGINT) AS n_obs, CAST(sum(c) AS BIGINT) AS n_changes,
             min(rnd) AS fr, CAST(max(rnd) AS INT) AS last_round
      FROM m GROUP BY url),
    s AS (
      SELECT url, n_obs, n_changes, last_round,
             CAST(CASE WHEN n_obs < 2 THEN 4
                       WHEN n_changes = 0 THEN 8
                       ELSE greatest(least((last_round - fr) // n_changes, 8), 1)
                  END AS INT) AS interval_rounds
      FROM p)
    SELECT url, n_obs, n_changes, last_round, interval_rounds,
           CAST(last_round + interval_rounds AS INT) AS next_due,
           (last_round + interval_rounds <= 6) AS due
    FROM s ORDER BY url
    """,
)
def crawl_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate revisit scheduling through the REAL module
    (operators/recrawl.recrawl_schedule — Cho & Garcia-Molina TODS'03
    revisit-proportional-to-change-rate, clamped): every URL gets 5
    observations; doc_id % 3 picks never-changes (backs off to
    max_interval), changes-every-round (interval 1, due now), and
    changed-once (interval = span/1). One shuffle on url (window +
    groupBy co-partitioned); the oracle replays the lag()-based change
    marking and the clamp arithmetic. Beyond the reference (one-shot
    crawl, no revisit policy)."""
    from ba_gepris_crawler_spark.operators.recrawl import recrawl_schedule

    d = _t(spark, sf_dir, "documents")
    hist = d.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("round"),
        (F.col("doc_id") % 3).cast("int").alias("m"),
    ).select(
        "url", F.col("round").cast("int").alias("round"),
        F.when(F.col("m") == 0, F.lit("a"))
        .when(F.col("m") == 1, F.concat(F.lit("h"), F.col("round").cast("string")))
        .otherwise(F.when(F.col("round") < 3, F.lit("a")).otherwise(F.lit("b")))
        .alias("content_hash"),
    )
    sched = recrawl_schedule(hist, now_round=6, min_interval=1, max_interval=8,
                             bootstrap_interval=4)
    return sched.select(
        "url", "n_obs", "n_changes", "last_round",
        F.col("interval").alias("interval_rounds"), "next_due", "due",
    ).orderBy("url")


@_q(
    "crawl_seed_url_recognizer",
    """
    WITH u AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS m,
             'h' || CAST(doc_id % 2 AS VARCHAR) || '.example.org' AS h
      FROM documents),
    urls AS (
      SELECT CASE m
               WHEN 0 THEN 'https://' || h || '/gepris/projekt/'
                           || CAST(100000 + doc_id AS VARCHAR) || '?language=en'
               WHEN 1 THEN 'https://' || h || '/gepris/person/'
                           || CAST(200000 + doc_id AS VARCHAR) || '?language=en'
               WHEN 2 THEN 'https://' || h || '/gepris/OCTOPUS?context=projekt&hitsPerPage=50'
                           || '&index=0&resourceTypeQuery=institution&language=en'
               ELSE 'https://other.example.org/blog/' || CAST(doc_id AS VARCHAR)
             END AS url, m, h,
             CASE m WHEN 0 THEN CAST(100000 + doc_id AS VARCHAR)
                    WHEN 1 THEN CAST(200000 + doc_id AS VARCHAR) END AS rid
      FROM u)
    SELECT url, h AS host,
           CASE m WHEN 0 THEN 'project' WHEN 1 THEN 'person'
                  WHEN 2 THEN 'institution' END AS resource_type,
           coalesce(rid, '') AS resource_id,
           0 AS crawl_depth,
           CASE m WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS priority,
           0 AS discovered_round
    FROM urls WHERE m < 3 ORDER BY url
    """,
)
def crawl_seed_url_recognizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared seed-URL recognizer through the REAL module
    (operators/frontier.frontier_rows_from_urls): bare URL strings (e.g.
    sitemap <loc> entries, redirect Location targets) parse into
    FRONTIER_SCHEMA rows — detail forms yield (type, id) from the path,
    catalog forms yield the type from resourceTypeQuery, foreign URLs
    drop, and the scheduler priority is the engine's type ladder
    (catalog 0 < project 1 < person 2 < institution 3). One Catalyst
    projection, plan-asserted Python- and shuffle-free
    (tests/test_redirects.py). The oracle replays the recognition rules
    directly. Beyond the reference (hard-coded seed URLs,
    PaginatedResourceCatalogUrlsGraph.scala:12-28)."""
    from ba_gepris_crawler_spark.operators.frontier import frontier_rows_from_urls

    d = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 4).cast("int")
    h = F.concat(F.lit("h"), (F.col("doc_id") % 2).cast("string"), F.lit(".example.org"))
    url = (
        F.when(m == 0, F.concat(F.lit("https://"), h, F.lit("/gepris/projekt/"),
                                (F.col("doc_id") + 100000).cast("string"), F.lit("?language=en")))
        .when(m == 1, F.concat(F.lit("https://"), h, F.lit("/gepris/person/"),
                               (F.col("doc_id") + 200000).cast("string"), F.lit("?language=en")))
        .when(m == 2, F.concat(F.lit("https://"), h,
                               F.lit("/gepris/OCTOPUS?context=projekt&hitsPerPage=50"
                                     "&index=0&resourceTypeQuery=institution&language=en")))
        .otherwise(F.concat(F.lit("https://other.example.org/blog/"), F.col("doc_id").cast("string")))
    )
    rows = frontier_rows_from_urls(d.select(url.alias("url")), next_round=0)
    # resource_id is NULL for catalog rows by contract; '' stands in for
    # the driver's NULL-unsortable row compare
    return rows.select(
        "url", "host", "resource_type",
        F.coalesce("resource_id", F.lit("")).alias("resource_id"),
        "crawl_depth", "priority", "discovered_round",
    ).orderBy("url")


@_q(
    "crawl_robots_sitemap_discovery",
    """
    WITH h AS (SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.org' AS host,
                      CAST(doc_id % 3 AS INT) AS m FROM documents),
    e AS (
      SELECT host, 'https://' || host || '/sitemap.xml' AS sitemap_url FROM h
      UNION ALL
      SELECT host, 'https://' || host || '/s2.xml' FROM h)
    SELECT host, sitemap_url FROM e ORDER BY host, sitemap_url
    """,
)
def crawl_robots_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt -> sitemap URLs through the REAL module
    (operators/sitemaps.sitemap_urls_from_robots): the `Sitemap:` field is
    user-agent-independent (RFC 9309 §2.3), matches case-insensitively
    with arbitrary field-name whitespace, and must carry an absolute URL —
    the fixture plants a mixed-case `sItEmAp:` line, trailing whitespace,
    and (on every third host) a RELATIVE value that must drop. The oracle
    emits the expected (host, url) pairs directly, so the build->parse
    round-trip must be lossless. Completes the distributed robots pipeline
    (rules: crawl_robots_distributed_parse; budgets:
    crawl_crawl_delay_budget) with seed discovery."""
    from ba_gepris_crawler_spark.operators.sitemaps import sitemap_urls_from_robots

    d = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), F.col("doc_id").cast("string"), F.lit(".example.org"))
    m = (F.col("doc_id") % 3).cast("int")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /private/\n"),
        F.lit("Sitemap: https://"), host, F.lit("/sitemap.xml\n"),
        F.when(m == 0, F.lit("Sitemap: /relative-drops.xml\n")).otherwise(F.lit("")),
        F.lit("  sItEmAp:\thttps://"), host, F.lit("/s2.xml  \n"),
        F.lit("Crawl-delay: 2\n"),
    )
    robots = d.select(host.alias("host"), body.alias("robots_txt"))
    return sitemap_urls_from_robots(robots).orderBy("host", "sitemap_url")


@_q(
    "crawl_revalidate_etag",
    """
    WITH d AS (
      SELECT doc_id,
             'https://h' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.org/gepris/projekt/' || CAST(doc_id AS VARCHAR) AS url,
             'title-' || CAST(doc_id AS VARCHAR) AS t0,
             CASE WHEN doc_id % 4 = 0
                  THEN 'title-' || CAST(doc_id AS VARCHAR) || '-v2'
                  ELSE 'title-' || CAST(doc_id AS VARCHAR) END AS t1,
             'img://' || CAST(doc_id AS VARCHAR) AS media
      FROM documents),
    h AS (
      SELECT url,
             md5(concat_ws(chr(31), 'name_label', 'Project', '', '0') || chr(30)
                 || concat_ws(chr(31), 'name_value', t0, '', '1') || chr(30)
                 || concat_ws(chr(31), 'media', '', media, '2')) AS etag,
             md5(concat_ws(chr(31), 'name_label', 'Project', '', '0') || chr(30)
                 || concat_ws(chr(31), 'name_value', t1, '', '1') || chr(30)
                 || concat_ws(chr(31), 'media', '', media, '2')) AS etag_refetch
      FROM d)
    SELECT url, etag, (etag_refetch = etag) AS unchanged,
           CASE WHEN etag_refetch = etag THEN 'revalidate_304'
                ELSE 're_extract' END AS action
    FROM h ORDER BY url
    """,
)
def crawl_revalidate_etag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-revalidation kernel (operators/revalidate.py): the
    content-addressed strong validator (portable md5 over the canonical
    span serialization — the SAME expression the engine derives validators
    with, the synthetic servers publish as ETag, and If-None-Match
    matches against), plus the plan-side unchanged cut `unchanged_urls`
    that spares unchanged refetches a typed re-extraction. Fixture: two
    observations of every doc URL; every 4th doc's title changed between
    them. The oracle replays the md5 over the identical serialization, so
    a drifted separator, null-coalesce, or field order breaks the hash —
    not just the boolean. Beyond the reference (one-shot crawl, RFC 9110
    §13 has no analog there)."""
    from ba_gepris_crawler_spark.operators.revalidate import unchanged_urls, validators_df

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.org/gepris/projekt/"), F.col("doc_id").cast("string"),
    ).alias("url")

    def obs(title: F.Column, rnd: int) -> DataFrame:
        return d.select(
            url,
            F.lit(rnd).cast("int").alias("round"),
            F.lit(200).cast("int").alias("status"),
            F.array(
                _span("name_label", "Project", "", 0),
                _span("name_value", title, "", 1),
                _span("media", "", F.concat(F.lit("img://"), F.col("doc_id").cast("string")), 2),
            ).alias("spans"),
        )

    t0 = F.concat(F.lit("title-"), F.col("doc_id").cast("string"))
    t1 = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("title-"), F.col("doc_id").cast("string"), F.lit("-v2")),
    ).otherwise(t0)
    validators = validators_df(obs(t0, 0))
    unchanged = unchanged_urls(obs(t1, 1), validators).withColumn("_u", F.lit(True))
    return (
        validators.join(unchanged, "url", "left")
        .select(
            "url",
            "etag",
            F.coalesce(F.col("_u"), F.lit(False)).alias("unchanged"),
            F.when(F.coalesce(F.col("_u"), F.lit(False)), F.lit("revalidate_304"))
            .otherwise(F.lit("re_extract")).alias("action"),
        )
        .orderBy("url")
    )


@_q(
    "crawl_current_version_view",
    """
    WITH r0 AS (
      SELECT CAST(doc_id AS BIGINT) AS entity, 0 AS rnd, f.f AS field_name,
             CASE f.f WHEN 'a' THEN 'v0a-' || CAST(doc_id AS VARCHAR)
                      ELSE 'v0b-' || CAST(doc_id AS VARCHAR) END AS field_value
      FROM documents, (SELECT unnest(['a', 'b']) AS f) f),
    r1 AS (
      SELECT CAST(doc_id AS BIGINT) AS entity, 1 AS rnd, f.f AS field_name,
             CASE f.f WHEN 'a' THEN 'v1a-' || CAST(doc_id AS VARCHAR)
                      ELSE 'v1c-' || CAST(doc_id AS VARCHAR) END AS field_value
      FROM documents, (SELECT unnest(['a', 'c']) AS f) f
      WHERE doc_id % 3 = 0),
    h AS (SELECT * FROM r0 UNION ALL SELECT * FROM r1),
    m AS (SELECT *, max(rnd) OVER (PARTITION BY entity) AS mx FROM h)
    SELECT entity, field_name, field_value
    FROM m WHERE rnd = mx ORDER BY entity, field_name
    """,
)
def crawl_current_version_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version resolution for the append-only extraction store
    (plans/round_loop.latest_version, the kernel under current_tables):
    newest-round-per-entity keeps the winning round's FULL row set and
    drops every older one — including fields the new version no longer
    has. Fixture: two fields per entity at round 0; every third entity
    re-extracted at round 1 with field `a` updated, field `b` gone, field
    `c` new. The oracle replays the window-max + filter. One shuffle on
    the entity key, no join, no driver state. Beyond the reference
    (one-shot crawl: no entity is ever extracted twice)."""
    from ba_gepris_crawler_spark.plans.round_loop import latest_version

    d = _t(spark, sf_dir, "documents")
    eid = F.col("doc_id").cast("bigint").alias("entity")
    sid = F.col("doc_id").cast("string")

    def rows(rnd: int, fields: list[tuple[str, str]]) -> DataFrame:
        src = d if rnd == 0 else d.filter(F.col("doc_id") % 3 == 0)
        per = F.array(*[
            F.struct(F.lit(f).alias("field_name"),
                     F.concat(F.lit(pre), sid).alias("field_value"))
            for f, pre in fields
        ])
        return src.select(
            eid, F.lit(rnd).cast("int").alias("_round"), F.explode(per).alias("fv")
        ).select("entity", "_round", "fv.field_name", "fv.field_value")

    hist = rows(0, [("a", "v0a-"), ("b", "v0b-")]).unionByName(
        rows(1, [("a", "v1a-"), ("c", "v1c-")])
    )
    return latest_version(hist, ["entity"]).orderBy("entity", "field_name")


@_q(
    "crawl_error_retry_schedule",
    """
    WITH d AS (SELECT doc_id, 'u' || CAST(doc_id AS VARCHAR) AS url,
                      CAST(doc_id % 4 AS INT) AS m FROM documents),
    h AS (
      SELECT url, 0 AS rnd,
             CASE m WHEN 0 THEN 503 WHEN 1 THEN 599 WHEN 2 THEN 503 ELSE 404 END AS st
      FROM d
      UNION ALL SELECT url, 1, CASE m WHEN 0 THEN 598 ELSE 200 END FROM d WHERE m IN (0, 1)
      UNION ALL SELECT url, 2, 503 FROM d WHERE m = 0),
    hw AS (
      SELECT *, max(CASE WHEN st NOT IN (408,429,500,502,503,504,598,599)
                         THEN rnd END) OVER (PARTITION BY url) AS last_ok
      FROM h),
    p AS (
      SELECT url, arg_max(st, rnd) AS last_status, CAST(max(rnd) AS INT) AS last_round,
             CAST(sum(CASE WHEN st IN (408,429,500,502,503,504,598,599)
                            AND rnd > coalesce(last_ok, -2147483648)
                           THEN 1 ELSE 0 END) AS INT) AS n_attempts
      FROM hw GROUP BY url),
    c AS (
      SELECT *, CAST(least(round(pow(2, n_attempts)), 8) AS INT) AS delay
      FROM p WHERE last_status IN (408,429,500,502,503,504,598,599))
    SELECT url, n_attempts, last_round, last_status, delay,
           CAST(last_round + delay AS INT) AS next_due,
           (n_attempts >= 3) AS exhausted,
           (n_attempts < 3 AND last_round + delay <= 5) AS due
    FROM c ORDER BY url
    """,
)
def crawl_error_retry_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transient-error retry policy (operators/retry.error_retry_schedule:
    exponential backoff over the quarantine, newest-observation gating,
    streak-since-last-success attempt counting, max_attempts
    exhaustion). Fixture per doc URL: three straight
    failures 503/598/503 (exhausted at max_attempts=3, backoff clamped to
    max_backoff=8 so next_due > now), one failure-then-200 (lineage ended
    — excluded), one single 503 (due: 0 + 2^1 <= now=5), one 404 (content
    answer, never retried). The oracle replays arg_max/backoff/clamp
    arithmetic exactly. Beyond the reference (any non-200 kills its
    stream, CrawledResourceDetailDataGraph.scala:43-46)."""
    from ba_gepris_crawler_spark.operators.retry import error_retry_schedule

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") % 4).cast("int").alias("m"),
    )
    r0 = d.select(
        "url", F.lit(0).alias("round"),
        F.when(F.col("m") == 0, 503).when(F.col("m") == 1, 599)
        .when(F.col("m") == 2, 503).otherwise(404).alias("status"),
    )
    r1 = d.filter(F.col("m").isin(0, 1)).select(
        "url", F.lit(1).alias("round"),
        F.when(F.col("m") == 0, 598).otherwise(200).alias("status"),
    )
    r2 = d.filter(F.col("m") == 0).select(
        "url", F.lit(2).alias("round"), F.lit(503).alias("status")
    )
    hist = r0.unionByName(r1).unionByName(r2)
    sched = error_retry_schedule(
        hist, now_round=5, max_attempts=3, backoff_base=2, max_backoff=8
    )
    return sched.select(
        "url", "n_attempts", "last_round", "last_status", "delay",
        "next_due", "exhausted", "due",
    ).orderBy("url")


@_q(
    "crawl_circuit_breaker",
    """
    WITH d AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
             CASE CAST(doc_id % 7 AS INT)
               WHEN 3 THEN 404
               WHEN 4 THEN CASE WHEN doc_id % 2 = 0 THEN 503 ELSE 200 END
               WHEN 5 THEN CASE WHEN doc_id % 2 = 0 THEN 599 ELSE 200 END
               WHEN 6 THEN 503
               ELSE 200 END AS status
      FROM documents),
    p AS (
      SELECT host, count(*) AS n,
             sum(CASE WHEN status IN (408,429,500,502,503,504,598,599)
                      THEN 1 ELSE 0 END) AS n_fail
      FROM d GROUP BY host),
    tripped AS (
      SELECT host, 10 AS until_round FROM p
      WHERE n >= 8 AND n_fail / n >= 0.5),
    susp AS (
      SELECT * FROM tripped
      UNION ALL SELECT 'h4', 3       -- lapsed earlier trip
      UNION ALL SELECT 'h0', 9),     -- still-active earlier trip
    active AS (
      SELECT host, max(until_round) AS until_round FROM susp
      GROUP BY host HAVING max(until_round) >= 7)
    SELECT host, CAST(until_round AS INT) AS until_round, 'tripped' AS phase
    FROM tripped
    UNION ALL
    SELECT host, NULL, 'active' FROM active
    ORDER BY phase, host
    """,
)
def crawl_circuit_breaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host circuit breaker (operators/backpressure.py): the trip rule
    (>= min_fetches attempts AND transient-failure rate >= error_rate —
    404s are answers, never failures) and active-suspension resolution
    (max until_round per host, lapsed trips excluded). Fixture: 7 hosts —
    three healthy, one all-404 (must NOT trip), two straddling the 0.5
    threshold from either side (even-id failures over an odd row count:
    36/71 trips, 35/71 does not — the comparison boundary is exercised,
    not just the obvious cases), one fully down; plus a lapsed and a
    still-active earlier suspension in the union. The oracle replays the
    rate arithmetic and the max/filter resolution. Beyond the reference
    (one host, fail-fast)."""
    from ba_gepris_crawler_spark.operators.backpressure import (
        active_suspensions,
        tripped_hosts,
    )

    d = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 7).cast("int")
    even = F.col("doc_id") % 2 == 0
    docs = d.select(
        F.concat(F.lit("h"), m.cast("string")).alias("host"),
        F.when(m == 3, 404)
        .when(m == 4, F.when(even, 503).otherwise(200))
        .when(m == 5, F.when(even, 599).otherwise(200))
        .when(m == 6, 503)
        .otherwise(200)
        .cast("int")
        .alias("status"),
    )
    tripped = tripped_hosts(
        docs, next_round=7, min_fetches=8, error_rate=0.5, suspend_rounds=4
    )
    prior = spark.createDataFrame(
        [("h4", 3), ("h0", 9)], "host string, until_round int"
    )
    active = active_suspensions(tripped.unionByName(prior), rnd=7)
    return (
        tripped.select("host", "until_round", F.lit("tripped").alias("phase"))
        .unionByName(
            active.select(
                "host", F.lit(None).cast("int").alias("until_round"),
                F.lit("active").alias("phase"),
            )
        )
        .orderBy("phase", "host")
    )


@_q(
    "crawl_refetch_lifecycle",
    """
    WITH d AS (SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                      CAST(doc_id % 6 AS INT) AS m FROM documents),
    h AS (
      SELECT url, CAST(r.r * 2 AS INT) AS rnd, 200 AS st,
             CASE WHEN m = 0 THEN 'a'
                  ELSE 'h' || CAST(r.r * 2 AS VARCHAR) END AS ch
      FROM d, (SELECT unnest(range(3)) AS r) r WHERE m IN (0, 1)
      UNION ALL SELECT url, CAST(r.r AS INT), 503, NULL
      FROM d, (SELECT unnest(range(2)) AS r) r WHERE m = 2
      UNION ALL SELECT url, CAST(r.r AS INT), 503, NULL
      FROM d, (SELECT unnest(range(3)) AS r) r WHERE m = 3
      UNION ALL SELECT url, 0, 404, NULL FROM d WHERE m = 4
      UNION ALL SELECT url, CAST(5 + r.r AS INT), 503, NULL
      FROM d, (SELECT unnest(range(2)) AS r) r WHERE m = 5),
    last AS (SELECT url, arg_max(st, rnd) AS last_status FROM h GROUP BY url),
    okh AS (SELECT url, rnd, ch FROM h WHERE st IN (200, 304)),
    rm AS (SELECT url, rnd,
                  CASE WHEN lag(ch) OVER w IS NULL THEN 0
                       WHEN ch <> lag(ch) OVER w THEN 1 ELSE 0 END AS c
           FROM okh WINDOW w AS (PARTITION BY url ORDER BY rnd)),
    rp AS (SELECT url, count(*) AS n_obs, sum(c) AS n_changes,
                  min(rnd) AS fr, max(rnd) AS lr FROM rm GROUP BY url),
    rs AS (SELECT url, CAST(lr + CASE WHEN n_obs < 2 THEN 4
                                      WHEN n_changes = 0 THEN 8
                                      ELSE greatest(least((lr - fr) // n_changes, 8), 1)
                                 END AS INT) AS next_due_re FROM rp),
    hw AS (SELECT *, max(CASE WHEN st NOT IN (408,429,500,502,503,504,598,599)
                              THEN rnd END) OVER (PARTITION BY url) AS lastok FROM h),
    ep AS (SELECT url, arg_max(st, rnd) AS ls, CAST(max(rnd) AS INT) AS lr,
                  CAST(sum(CASE WHEN st IN (408,429,500,502,503,504,598,599)
                                 AND rnd > coalesce(lastok, -2147483648)
                                THEN 1 ELSE 0 END) AS INT) AS n
           FROM hw GROUP BY url),
    es AS (SELECT url, (n >= 3) AS exhausted,
                  CAST(lr + least(CAST(round(pow(2, n)) AS INT), 8) AS INT) AS next_due_err
           FROM ep WHERE ls IN (408,429,500,502,503,504,598,599))
    SELECT l.url, l.last_status,
           CASE WHEN es.url IS NOT NULL AND es.exhausted THEN 'quarantined'
                WHEN es.url IS NOT NULL AND es.next_due_err <= 6 THEN 'retry_due'
                WHEN es.url IS NOT NULL THEN 'retry_backoff'
                WHEN l.last_status = 404 THEN 'gone'
                WHEN rs.next_due_re <= 6 THEN 'recrawl_due'
                ELSE 'monitor' END AS state,
           CAST(CASE WHEN l.last_status = 404 OR (es.url IS NOT NULL AND es.exhausted)
                     THEN -1
                     ELSE coalesce(es.next_due_err, rs.next_due_re) END AS INT)
             AS next_due
    FROM last l LEFT JOIN es ON l.url = es.url LEFT JOIN rs ON l.url = rs.url
    ORDER BY l.url
    """,
)
def crawl_refetch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE per-URL lifecycle view — both refetch policies composed
    (operators/recrawl.recrawl_schedule + operators/retry.
    error_retry_schedule, the REAL modules) into one ops answer: what
    happens to this URL next? States: recrawl_due / monitor (healthy,
    change-rate policy), retry_due / retry_backoff / quarantined
    (transient-failure policy with streak exhaustion), gone (content
    answer, never refetched). Fixture: six URL classes, one per state.
    The oracle replays both policies' window arithmetic AND the
    composition precedence. Beyond the reference (one-shot crawl: no URL
    has a future)."""
    from ba_gepris_crawler_spark.operators.recrawl import recrawl_schedule
    from ba_gepris_crawler_spark.operators.retry import (
        RETRYABLE_STATUSES,
        error_retry_schedule,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") % 6).cast("int").alias("m"),
    )
    three = F.explode(F.sequence(F.lit(0), F.lit(2))).alias("r")
    h = (
        d.filter(F.col("m").isin(0, 1)).select("url", "m", three)
        .select("url", (F.col("r") * 2).cast("int").alias("round"),
                F.lit(200).alias("status"),
                F.when(F.col("m") == 0, F.lit("a"))
                .otherwise(F.concat(F.lit("h"), (F.col("r") * 2).cast("string")))
                .alias("content_hash"))
        .unionByName(
            d.filter(F.col("m") == 2).select("url", F.explode(F.sequence(F.lit(0), F.lit(1))).alias("round"))
            .select("url", F.col("round").cast("int"), F.lit(503).alias("status"),
                    F.lit(None).cast("string").alias("content_hash")))
        .unionByName(
            d.filter(F.col("m") == 3).select("url", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("round"))
            .select("url", F.col("round").cast("int"), F.lit(503).alias("status"),
                    F.lit(None).cast("string").alias("content_hash")))
        .unionByName(
            d.filter(F.col("m") == 4).select("url", F.lit(0).cast("int").alias("round"),
                                             F.lit(404).alias("status"),
                                             F.lit(None).cast("string").alias("content_hash")))
        .unionByName(
            d.filter(F.col("m") == 5).select("url", F.explode(F.sequence(F.lit(5), F.lit(6))).alias("round"))
            .select("url", F.col("round").cast("int"), F.lit(503).alias("status"),
                    F.lit(None).cast("string").alias("content_hash")))
    )
    now = 6
    last = h.groupBy("url").agg(F.max_by("status", F.col("round")).alias("last_status"))
    re_s = recrawl_schedule(
        h.filter(F.col("status").isin(200, 304)).select("url", "round", "content_hash"),
        now_round=now, min_interval=1, max_interval=8, bootstrap_interval=4,
    ).select("url", F.col("next_due").alias("next_due_re"))
    er_s = error_retry_schedule(
        h.select("url", "round", "status"), now_round=now,
        max_attempts=3, backoff_base=2, max_backoff=8,
    ).select("url", F.col("next_due").alias("next_due_err"), "exhausted",
             F.lit(True).alias("_err"))
    j = last.join(er_s, "url", "left").join(re_s, "url", "left")
    err = F.coalesce(F.col("_err"), F.lit(False))
    state = (
        F.when(err & F.col("exhausted"), F.lit("quarantined"))
        .when(err & (F.col("next_due_err") <= now), F.lit("retry_due"))
        .when(err, F.lit("retry_backoff"))
        .when(F.col("last_status") == 404, F.lit("gone"))
        .when(F.col("next_due_re") <= now, F.lit("recrawl_due"))
        .otherwise(F.lit("monitor"))
    )
    # -1 = no future fetch (gone/quarantined): a sentinel, not NULL —
    # the driver's row sort can't order NULL-mixed columns
    next_due = F.when(
        (F.col("last_status") == 404) | (err & F.col("exhausted")),
        F.lit(-1),
    ).otherwise(F.coalesce("next_due_err", "next_due_re")).cast("int")
    return j.select(
        "url", "last_status", state.alias("state"), next_due.alias("next_due")
    ).orderBy("url")
