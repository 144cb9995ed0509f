"""WAT-style link extraction — the crawl graph's raw material.

Common Crawl ships a WAT derivative next to every WARC: per-capture
metadata whose most-consumed field is the OUTLINK list, because the
link graph drives everything upstream of a crawl — frontier
expansion (what to fetch next), host authority (what to fetch
first), and spam/SEO-farm detection.  The reference pipeline has no
crawl tier; this module implements the public semantics (anchor
hrefs resolved against the capture URI per RFC 3986) Spark-first:

- ``page_links(pages)``: the only non-relational step — an Arrow
  ``mapInPandas`` over (doc_id, url, html) running a stdlib
  ``HTMLParser`` that collects ``<a href>`` values and resolves each
  against the capture URL with ``urllib.parse.urljoin`` (full RFC
  3986 reference resolution: absolute, root-relative, path-relative
  with ``..`` collapse, protocol-relative, fragment-only).  Resolved
  fragments are stripped; only http(s) results survive (``mailto:``,
  ``javascript:`` drop out by scheme).  Shuffle-free; one page per
  row.
- ``host_link_graph(links)``: the host-level projection of the edge
  list — one exact groupBy to (src_host, dst_host, n_links), the
  input every centrality / spam-cluster job reads.  Hosts via
  ``url.url_host`` (shared normalization with the robots/dedup
  tiers).
- ``crawl_frontier(links, captured)``: discovered-but-uncaptured
  URLs — a left-anti join of resolved outlinks against the captured
  URL set, aggregated per destination host with in-degree (the
  priority signal real frontiers rank by).  This is the next
  crawl round's seed list, produced without fetching anything.

Correctness: the gate wraps the driver's documents table in a page
template whose anchors exercise every resolution branch (absolute
same-host, absolute cross-host hub, root-relative, ``../``
path-relative, protocol-relative CDN, fragment-only self-link,
plus ``mailto:`` / ``javascript:`` chaff that must drop), and the
oracle re-derives extraction + resolution + graph + frontier in
pure SQL from the construction rules — parser and resolver are
hashed end-to-end, and the frontier anti-join is re-derived, not
assumed.

Scale: extraction is a per-page projection (the WAT cut is one pass
over the dump); the graph is one shuffle on (src_host, dst_host);
the frontier is one anti-join that AQE broadcasts when the captured
side is small and sort-merges when it isn't.  Nothing is quadratic
in pages or links.
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.caching import _CheckpointDep, attach_cached_deps
from .url import sql_url_host, url_host

LINKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_url", T.StringType()),
        T.StructField("href", T.StringType()),
        T.StructField("dst_url", T.StringType()),
    ]
)


class _LinkCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.hrefs.append(v)


def extract_hrefs(html: str) -> list[str]:
    """Raw ``<a href>`` values in document order (entity-unescaped by
    the parser)."""
    p = _LinkCollector()
    p.feed(html)
    p.close()
    return p.hrefs


def resolve_link(base_url: str, href: str) -> str | None:
    """RFC 3986 reference resolution via stdlib urljoin, fragment
    stripped; None for non-http(s) results (mailto:, javascript:,
    data:)."""
    resolved = urljoin(base_url, href)
    scheme = resolved.split(":", 1)[0].lower()
    if scheme not in ("http", "https"):
        return None
    return resolved.split("#", 1)[0]


def page_links(pages: DataFrame) -> DataFrame:
    """(doc_id, url, html) -> one row per resolvable anchor:
    (doc_id, src_url, raw href, resolved dst_url).  Shuffle-free
    Arrow projection."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, url, page in zip(
                pdf["doc_id"], pdf["url"], pdf["html"]
            ):
                for href in extract_hrefs(str(page)):
                    dst = resolve_link(str(url), href)
                    if dst is not None:
                        rows.append((int(did), str(url), href, dst))
            yield pd.DataFrame(
                rows, columns=[f.name for f in LINKS_SCHEMA.fields]
            )

    return pages.mapInPandas(batches, LINKS_SCHEMA)


def host_link_graph(links: DataFrame) -> DataFrame:
    """Edge list -> host-level weighted graph: one exact groupBy."""
    return (
        links.select(
            url_host("src_url").alias("src_host"),
            url_host("dst_url").alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
        .orderBy("src_host", "dst_host")
    )


def crawl_frontier(links: DataFrame, captured: DataFrame) -> DataFrame:
    """Discovered-but-uncaptured URLs per destination host: a
    left-anti join of outlink destinations against the captured URL
    set (column ``url``), then one groupBy — (dst_host, n_new_urls,
    in_degree), in-degree being the rank signal a frontier scheduler
    sorts by.  Self-links and already-captured pages drop out in the
    anti-join."""
    new = links.join(
        captured.select(F.col("url").alias("dst_url")).distinct(),
        on="dst_url",
        how="left_anti",
    )
    return (
        new.groupBy(url_host("dst_url").alias("dst_host"))
        .agg(
            F.countDistinct("dst_url").alias("n_new_urls"),
            F.count("*").alias("in_degree"),
        )
        .orderBy("dst_host")
    )


# fixed-point PageRank constants shared with the near-dup tier
# (operators/cluster.py:384-388 — same scale/damping so ranks are
# comparable across graph families)
PR_SCALE = 1_000_000
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100
PR_BASE = 150_000
AUTH_ITERS = 3


def host_authority(graph: DataFrame, iters: int = AUTH_ITERS) -> DataFrame:
    """Host authority: fixed-point PageRank over the DIRECTED,
    WEIGHTED host link graph — the fetch-first signal a crawl
    scheduler ranks its frontier by.

    Differs from the near-dup tier's undirected PageRank
    (cluster.py:415) in the two ways a real link graph demands:
    edges carry weights (contribution proportional to n_links /
    total out-weight) and DANGLING hosts exist (all-incoming hubs
    and CDNs have no outlinks) — their mass redistributes uniformly
    each step, as a 1-row scalar aggregate cross-joined back (the
    bounded-broadcast shape the plan audit whitelists), so rank mass
    is conserved in integer arithmetic up to per-node floor
    truncation.

    All arithmetic is exact integer fixed-point (scale 1e6, damping
    85/100, floor division) — bit-reproducible across partitionings,
    and mirrored term-for-term by the unrolled-CTE DuckDB oracle.

    Scale: iterations are host-table-sized hash joins (hosts number
    ~1e7 per web crawl — tiny next to the page table); each step is
    one join + one map-side-combinable SUM + one 1-row broadcast.
    ``n_hosts`` is read once as a driver scalar (a count, not a
    collect)."""
    edges = graph.select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("long").alias("w"),
    ).persist()
    # nodes / out-weights / the weighted edge table each feed EVERY
    # iteration (3 lineage sites per step) — persist and materialize
    # once or the whole upstream extraction re-runs per site per
    # iteration (measured: 189 exchanges in the unpersisted plan vs
    # ~a dozen persisted; same lesson as cluster.pagerank_near_dups)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w")).persist()
    e = edges.join(outw, "src").persist()
    n_hosts = nodes.count()
    e.count()
    outw.count()
    edges.unpersist()
    pr = nodes.select(
        "host", F.lit(PR_SCALE).cast("long").alias("pr")
    )
    # each iteration references pr TWICE (dangling-mass scalar +
    # contributions), so an unpersisted chain doubles per step —
    # 2^iters evaluations of the first iteration by the time the
    # caller collects.  A LAZY localCheckpoint per step (the bpe merge
    # loop's lineage discipline) keeps the DAG linear AND truncates
    # the Catalyst plan to a constant size per step: the r12 persist()
    # version evaluated linearly but still ANALYZED a plan that nested
    # per iteration (5,271 lines at 10 iterations — driver-side
    # planning cost grows with iters).  eager=False adds NO extra
    # action: each step's blocks materialize inside the caller's
    # single action; ownership transfers via attach_cached_deps.
    step_deps = []
    for _ in range(iters):
        dm = pr.join(
            outw, pr.host == outw.src, "left_anti"
        ).agg(
            F.coalesce(F.sum("pr"), F.lit(0)).cast("long").alias("dm")
        )
        contrib = (
            e.join(pr, e.src == pr.host)
            .groupBy("dst")
            .agg(
                F.sum(
                    F.expr(
                        f"(pr * {PR_DAMP_NUM} * w) DIV "
                        f"(out_w * {PR_DAMP_DEN})"
                    )
                ).alias("c")
            )
        )
        pr = (
            nodes.join(contrib, nodes.host == contrib.dst, "left")
            .crossJoin(dm)
            .select(
                "host",
                (
                    F.lit(PR_BASE)
                    + F.coalesce(F.col("c"), F.lit(0))
                    + F.expr(
                        f"(dm * {PR_DAMP_NUM}) DIV "
                        f"({n_hosts} * {PR_DAMP_DEN})"
                    )
                ).cast("long").alias("pr"),
            )
        ).localCheckpoint(eager=False)
        step_deps.append(_CheckpointDep(pr))
    out = pr.select(
        "host", F.col("pr").alias("authority_scaled")
    ).orderBy("host")
    return attach_cached_deps(out, nodes, outw, e, *step_deps)


# ---------------------------------------------------------------------------
# Gate fixture: a page template exercising every resolution branch
# ---------------------------------------------------------------------------


def capture_base_url() -> F.Column:
    """The fixture capture URL: one subdomain per source, grouped
    paths (three docs per path group, like the URL-dedup fixture)."""
    return F.concat(
        F.lit("http://"),
        F.col("source"),
        F.lit(".example.com/doc/"),
        F.expr("doc_id DIV 3").cast("string"),
    )


def sql_capture_base_url() -> str:
    return (
        "'http://' || source || '.example.com/doc/' "
        "|| CAST(doc_id // 3 AS VARCHAR)"
    )


def linked_page_expr() -> F.Column:
    """A page whose anchors cover the resolution branches: fragment
    self-link (nav), javascript chaff (nav), absolute cross-host hub,
    root-relative sibling, ``../`` path-relative, protocol-relative
    CDN, absolute same-host next-group, mailto chaff."""
    esc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.coalesce(F.col("text"), F.lit("")), "&", "&amp;"
            ),
            "<",
            "&lt;",
        ),
        ">",
        "&gt;",
    )
    d = F.col("doc_id")
    return F.concat(
        F.lit('<html><head><title>Doc '),
        d.cast("string"),
        F.lit('</title></head><body><nav><a href="#top">Top</a>'
              '<a href="javascript:void(0)">JS</a></nav><main><p>'),
        esc,
        F.lit('</p><a href="http://hub.example.com/cat/'),
        F.pmod(d, F.lit(10)).cast("string"),
        F.lit('">hub</a><a href="/doc/'),
        F.pmod(d, F.lit(50)).cast("string"),
        F.lit('">sibling</a><a href="../doc/'),
        F.pmod(d, F.lit(7)).cast("string"),
        F.lit('">rel</a><a href="//cdn.example.net/lib/'),
        F.pmod(d, F.lit(5)).cast("string"),
        F.lit('">cdn</a><a href="http://'),
        F.col("source"),
        F.lit(".example.com/doc/"),
        (F.expr("doc_id DIV 3") + F.lit(1)).cast("string"),
        F.lit('">next</a><a href="mailto:contact@'),
        F.col("source"),
        F.lit('.example.com">mail</a></main></body></html>'),
    )


def fixture_pages(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "source",
        capture_base_url().alias("url"),
        linked_page_expr().alias("html"),
    )


def fixture_links(docs: DataFrame) -> DataFrame:
    return page_links(fixture_pages(docs))


def sql_fixture_links_cte() -> str:
    """DuckDB re-derivation of extraction + resolution over the
    template rules: six kept anchors per document (the two chaff
    schemes drop), each resolved per RFC 3986 by construction."""
    base = sql_capture_base_url()
    return f"""
    WITH d AS (
        SELECT doc_id, source, {base} AS src_url,
               CAST(doc_id // 3 AS VARCHAR) AS g
        FROM documents
    ),
    links AS (
        SELECT doc_id, src_url, '#top' AS href, src_url AS dst_url
        FROM d
        UNION ALL
        SELECT doc_id, src_url,
               'http://hub.example.com/cat/'
                   || CAST(doc_id % 10 AS VARCHAR),
               'http://hub.example.com/cat/'
                   || CAST(doc_id % 10 AS VARCHAR)
        FROM d
        UNION ALL
        SELECT doc_id, src_url,
               '/doc/' || CAST(doc_id % 50 AS VARCHAR),
               'http://' || source || '.example.com/doc/'
                   || CAST(doc_id % 50 AS VARCHAR)
        FROM d
        UNION ALL
        SELECT doc_id, src_url,
               '../doc/' || CAST(doc_id % 7 AS VARCHAR),
               'http://' || source || '.example.com/doc/'
                   || CAST(doc_id % 7 AS VARCHAR)
        FROM d
        UNION ALL
        SELECT doc_id, src_url,
               '//cdn.example.net/lib/' || CAST(doc_id % 5 AS VARCHAR),
               'http://cdn.example.net/lib/'
                   || CAST(doc_id % 5 AS VARCHAR)
        FROM d
        UNION ALL
        SELECT doc_id, src_url,
               'http://' || source || '.example.com/doc/'
                   || CAST(doc_id // 3 + 1 AS VARCHAR),
               'http://' || source || '.example.com/doc/'
                   || CAST(doc_id // 3 + 1 AS VARCHAR)
        FROM d
    )"""


def oracle_page_outlinks_sql() -> str:
    return (
        sql_fixture_links_cte()
        + """
    SELECT doc_id, src_url, href, dst_url FROM links
    ORDER BY doc_id, href"""
    )


def oracle_host_link_graph_sql() -> str:
    return (
        sql_fixture_links_cte()
        + f"""
    SELECT {sql_url_host('src_url')} AS src_host,
           {sql_url_host('dst_url')} AS dst_host,
           COUNT(*) AS n_links
    FROM links
    GROUP BY 1, 2
    ORDER BY src_host, dst_host"""
    )


def oracle_host_authority_sql(iters: int = AUTH_ITERS) -> str:
    """DuckDB twin of host_authority over the fixture graph: the
    weighted, dangling-aware iteration unrolled into CTEs,
    term-for-term integer arithmetic."""
    steps = []
    for i in range(iters):
        steps.append(
            f"""dm{i} AS (
        SELECT CAST(COALESCE(SUM(pr), 0) AS BIGINT) AS dm
        FROM pr{i} p
        WHERE NOT EXISTS (SELECT 1 FROM outw o WHERE o.src = p.host)
    ),
    c{i} AS (
        SELECT e.dst AS host,
               CAST(SUM((p.pr * {PR_DAMP_NUM} * e.w)
                    // (e.out_w * {PR_DAMP_DEN})) AS BIGINT) AS c
        FROM e JOIN pr{i} p ON e.src = p.host
        GROUP BY e.dst
    ),
    pr{i + 1} AS (
        SELECT nodes.host,
               CAST({PR_BASE} + COALESCE(c.c, 0)
                    + (dm.dm * {PR_DAMP_NUM})
                      // (nn.n * {PR_DAMP_DEN}) AS BIGINT) AS pr
        FROM nodes
        LEFT JOIN c{i} c ON nodes.host = c.host
        CROSS JOIN dm{i} dm CROSS JOIN nn
    )"""
        )
    chain = ",\n    ".join(steps)
    return (
        sql_fixture_links_cte()
        + f"""
    , hl AS (
        SELECT {sql_url_host('src_url')} AS src_host,
               {sql_url_host('dst_url')} AS dst_host
        FROM links
    ),
    g AS (
        SELECT src_host, dst_host, COUNT(*) AS w
        FROM hl GROUP BY 1, 2
    ),
    nodes AS (
        SELECT src_host AS host FROM g
        UNION
        SELECT dst_host FROM g
    ),
    outw AS (
        SELECT src_host AS src, CAST(SUM(w) AS BIGINT) AS out_w
        FROM g GROUP BY 1
    ),
    e AS (
        SELECT g.src_host AS src, g.dst_host AS dst,
               CAST(g.w AS BIGINT) AS w, outw.out_w
        FROM g JOIN outw ON g.src_host = outw.src
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    pr0 AS (
        SELECT host, CAST({PR_SCALE} AS BIGINT) AS pr FROM nodes
    ),
    {chain}
    SELECT host, pr AS authority_scaled FROM pr{iters}
    ORDER BY host"""
    )


def oracle_crawl_frontier_sql() -> str:
    return (
        sql_fixture_links_cte()
        + f"""
    , new_links AS (
        SELECT l.* FROM links l
        WHERE NOT EXISTS (
            SELECT 1 FROM d WHERE d.src_url = l.dst_url
        )
    )
    SELECT {sql_url_host('dst_url')} AS dst_host,
           COUNT(DISTINCT dst_url) AS n_new_urls,
           COUNT(*) AS in_degree
    FROM new_links
    GROUP BY 1
    ORDER BY dst_host"""
    )
