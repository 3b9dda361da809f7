"""Link-graph construction and PageRank over crawled pages.

The crawl front door (WARC -> HTTP -> HTML, sources/warc.py) recovers
page text; this module recovers page STRUCTURE: href extraction, a
host-level link graph, and an integer-quantized PageRank — the
standard crawl-prioritization / domain-authority signal (Page et al.
1999; Common Crawl publishes exactly this host-level graph).

Engine parity: href extraction is one shared regex literal
(``HREF_RE``) run by both engines' regexp_extract_all; PageRank ranks
live in integer MICROS with integer-division contributions
(``rank div out_degree``) and a basis-point damping factor, so a
fixed iteration count produces bit-identical ranks on any engine —
no float accumulation order anywhere.

Scale shape: extraction is a narrow per-row expression (zero
shuffle); the graph build is one map-side-combined aggregate; each
PageRank iteration is one join (ranks x edges, AQE-decided strategy —
ranks is one row per host, edges dominate) plus one aggregate. The
host graph is ~1e8 nodes for the full web — far under the page
graph's 1e11, which is why production PageRank runs at host level
first. Every iteration stacks its joins and aggregate onto one
logical plan, which stays small at the few fixed iterations the ranks
are computed with (3 in the oracle key and the bench).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sslr_spark.functions.urls import url_host

# shared literal — the DuckDB oracle runs this exact pattern
HREF_RE = 'href="([^"]+)"'


def extract_links(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """All href targets per page: (id_col, link) — one row per href
    occurrence, in-document order discarded (the graph does not care).
    Narrow per-row regex + explode; zero shuffle."""
    return df.select(
        id_col,
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(HREF_RE), 1)
        ).alias("link"),
    )


def host_edges(
    links: DataFrame,
    src_url_col: str = "page_url",
    link_col: str = "link",
) -> DataFrame:
    """Host-level link graph: (src, dst, n_links) with self-loops
    dropped (a host linking to itself says nothing about authority).
    One map-side-combined aggregate on the (src, dst) pair."""
    return (
        links.select(
            url_host(F.col(src_url_col)).alias("src"),
            url_host(F.col(link_col)).alias("dst"),
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("dst") != ""))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping_bp: int = 8500,
) -> DataFrame:
    """Integer-quantized PageRank over an unweighted (src, dst) edge
    set — ``n_iters`` fixed iterations of

        rank'(v) = (10000 - damping_bp)/10000
                   + damping_bp/10000 * sum over in-edges (u, v)
                     of rank(u) div out_degree(u)

    in MICROS with every division an integer division, so the result
    is bit-identical across engines and replayable as nested SQL CTEs
    (the driver oracle does exactly that). Ranks start at 1.0
    (1_000_000 micros) per node — the unnormalized convention, so a
    node with no in-links converges to (10000 - damping_bp) * 100
    micros. Dangling hosts (no out-edges) leak their mass, the
    standard host-graph simplification — at web scale the dangling
    term is folded in once per iteration as a broadcast scalar; that
    correction is deliberately omitted here to keep rank arithmetic
    exactly replayable.

    Returns (host, rank_micros) for every node of the graph.
    """
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("host"))
        .unionAll(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ranks = nodes.select(
        "host", F.lit(1_000_000).cast("long").alias("rank_micros")
    )
    base = F.lit((10_000 - damping_bp) * 100).cast("long")
    for _ in range(n_iters):
        contrib = (
            e.join(out_deg, "src")
            .join(ranks, F.col("src") == F.col("host"))
            .select(
                F.col("dst").alias("host"),
                F.expr("rank_micros div out_deg").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "host", "left")
            .select(
                "host",
                (
                    base
                    + F.expr(
                        f"(coalesce(s, 0L) * {damping_bp}) div 10000"
                    )
                ).alias("rank_micros"),
            )
        )
    return ranks


def crawl_frontier(
    urls: DataFrame,
    ranks: DataFrame,
    per_host_cap: int = 3,
    top_n: int = 40,
    delays: DataFrame | None = None,
) -> DataFrame:
    """Frontier scheduling — the crawl front door's last stage: given
    candidate URLs (already robots-filtered, see functions/robots.py)
    and host authority ranks (:func:`pagerank`), emit the next fetch
    batch: URLs deduped into a set, at most ``per_host_cap`` per host
    (politeness — a host's crawl budget, independent of its rank),
    globally prioritized by host rank. This is the standard
    frontier shape (OPIC/BFS hybrids in Heritrix/Nutch): authority
    picks WHICH hosts first, the cap keeps any one host from
    monopolizing the batch.

    Scale shape: set-dedup is one map-side-combined distinct on the
    URL; the politeness cap is a per-host window (hosts are the
    partition key — no global window); rank attachment is an
    equi-join on host (ranks: one row per host); the final cut is a
    TakeOrdered. Unranked hosts (no in/out links yet) default to rank
    0 — they still crawl, last.

    Output: (url, host, rank_micros, host_pos), top-``top_n`` by
    (rank desc, url); host_pos is the URL's 1-based politeness slot.
    With ``delays`` (robots_crawl_delay output: host, crawl_delay_s)
    each row also carries ``fetch_offset_s = (host_pos - 1) *
    crawl_delay_s`` — the earliest in-batch fetch time that honors
    the host's Crawl-delay (slot 1 fetches immediately).
    """
    from pyspark.sql import Window

    u = urls.select("url", "host").distinct()
    w = Window.partitionBy("host").orderBy("url")
    capped = (
        u.withColumn("host_pos", F.row_number().over(w))
        .filter(F.col("host_pos") <= per_host_cap)
    )
    ranked = (
        capped.join(
            ranks.select(
                F.col("host").alias("__rh"), "rank_micros"
            ),
            F.col("host") == F.col("__rh"),
            "left",
        )
        .select(
            "url",
            "host",
            F.coalesce(F.col("rank_micros"), F.lit(0))
            .cast("long")
            .alias("rank_micros"),
            F.col("host_pos").cast("int").alias("host_pos"),
        )
    )
    if delays is not None:
        ranked = ranked.join(
            delays.select(
                F.col("host").alias("__dh"), "crawl_delay_s"
            ),
            F.col("host") == F.col("__dh"),
            "left",
        ).select(
            "url",
            "host",
            "rank_micros",
            "host_pos",
            (
                (F.col("host_pos") - 1)
                * F.coalesce(F.col("crawl_delay_s"), F.lit(0))
            )
            .cast("int")
            .alias("fetch_offset_s"),
        )
    return ranked.orderBy(
        F.col("rank_micros").desc(), F.col("url")
    ).limit(top_n)
