"""Correctness checks for a crawled catalog, independent of the crawl.

Tables are read straight from the catalog's on-disk format (``_HEAD``
names the current ``snap-<id>.json`` manifest, which lists the member
parquet files and partition dirs), not through
``scrapetition_spark.sources.catalog``. Link targets are read from the
documents' spans with plain Spark SQL, not through ``parse.kernel``.
Every check returns ``(name, ok, detail)``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# item tables and the keys each must be unique on (the reference's
# UNIQUE constraints, restated here so the check does not trust the
# program's own copy)
ITEM_KEYS = {
    "url_edges": ["source", "target"],
    "comments": ["id", "domain"],
    "users": ["user", "domain"],
    "votes": ["domain", "user", "comment"],
    "articles": ["canonical"],
}


def head(root: str, table: str) -> int:
    try:
        with open(os.path.join(root, table, "_HEAD")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return -1


def manifest(root: str, table: str, sid: int) -> dict | None:
    try:
        with open(os.path.join(root, table, f"snap-{sid}.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def members(snap: dict) -> list[str]:
    return list(snap["files"]) + [p for ps in snap.get("parts", {}).values() for p in ps]


def tables(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(t for t in os.listdir(root) if head(root, t) >= 0)


def read_table(spark: SparkSession, root: str, table: str) -> DataFrame | None:
    """The table at HEAD, or None if it has no snapshot or no data."""
    sid = head(root, table)
    snap = manifest(root, table, sid) if sid >= 0 else None
    paths = members(snap) if snap else []
    return spark.read.parquet(*paths) if paths else None


def link_targets(docs: DataFrame, fetched: DataFrame, collectors: tuple[str, ...]) -> DataFrame:
    """Distinct link targets (column ``url``) of the fetched pages: the
    ``media_ref`` of every media span whose role prefix is one of the
    link collectors."""
    spans = (
        docs.join(fetched.select(F.col("url").alias("doc_id")), ["doc_id"], "left_semi")
        .select(F.explode("spans").alias("s"))
        .select("s.kind", "s.text", "s.media_ref")
    )
    role = F.substring_index(F.col("text"), "\x1f", 1)
    return (
        spans.filter((F.col("kind") == "media") & role.isin(*collectors))
        .select(F.col("media_ref").alias("url"))
        .distinct()
    )


def crawl_checks(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    seeds: DataFrame,
    urls_due_total: int,
    per_host_budget: int,
    max_urls_per_epoch: int | None,
    n_comments: int,
    collectors: tuple[str, ...],
) -> list[tuple[str, bool, str]]:
    out: list[tuple[str, bool, str]] = []
    seen = read_table(spark, root, "urls_seen")
    if seen is None:
        return [("urls_seen_present", False, "urls_seen has no data")]
    sp = seen.select("url", "host", "epoch", "fetch_seq").toPandas()
    n = len(sp)
    n_urls = sp["url"].nunique()
    out.append(("seen_unique", n == n_urls, f"{n} rows, {n_urls} distinct urls"))
    out.append(("seen_size", n == urls_due_total, f"{n} rows, sum(urls_due)={urls_due_total}"))
    seqs = sorted(sp["fetch_seq"].tolist())
    out.append(("fetch_seq_dense", seqs == list(range(n)),
                f"min={seqs[0] if seqs else None} max={seqs[-1] if seqs else None} "
                f"distinct={len(set(seqs))} rows={n}"))
    worst_host = int(sp.groupby(["epoch", "host"]).size().max()) if n else 0
    out.append(("host_budget", worst_host <= per_host_budget,
                f"max fetches of one host in one epoch={worst_host}, budget={per_host_budget}"))
    if max_urls_per_epoch is not None:
        worst_epoch = int(sp.groupby("epoch").size().max()) if n else 0
        out.append(("epoch_cap", worst_epoch <= max_urls_per_epoch,
                    f"max fetches in one epoch={worst_epoch}, cap={max_urls_per_epoch}"))

    fetched_docs = docs.join(
        seen.select(F.col("url").alias("doc_id")), ["doc_id"], "left_semi"
    ).count()
    comments = read_table(spark, root, "comments")
    n_c = comments.count() if comments is not None else 0
    out.append(("comments_count", n_c == n_comments * fetched_docs,
                f"{n_c} comments, {n_comments} x {fetched_docs} fetched pages"))

    for table, keys in ITEM_KEYS.items():
        t = read_table(spark, root, table)
        if t is None:
            continue
        dups = t.groupBy(*keys).count().filter(F.col("count") > 1).count()
        out.append((f"unique_{table}", dups == 0, f"{dups} duplicated keys"))

    urls = read_table(spark, root, "urls")
    expected = seeds.select(F.col("target").alias("url")).unionByName(
        link_targets(docs, seen, collectors)
    ).distinct()
    if urls is None:
        out.append(("urls_closure", False, "urls has no data"))
        return out
    got = urls.groupBy("url").agg(F.count("*").alias("copies"))
    r = got.join(expected.withColumn("want", F.lit(1)), ["url"], "full_outer").agg(
        F.sum(F.col("copies").isNull().cast("int")).alias("missing"),
        F.sum(F.col("want").isNull().cast("int")).alias("extra"),
        F.sum((F.col("copies") > 1).cast("int")).alias("dup"),
    ).first()
    ok = r["missing"] == 0 and r["extra"] == 0 and r["dup"] == 0
    out.append(("urls_closure", ok,
                f"{r['missing']} missing, {r['extra']} unexpected, {r['dup']} duplicated"))
    return out
