"""Micro-A/B of the two round-4 scale paths on the operators alone.

1. Bloom sidecar commit: per-epoch cost of folding a due-set delta
   into a LARGE partitioned bloom sidecar —
     old shape (r03): read ALL buckets ∪ delta → or_merge → full
     overwrite (O(sidecar) per epoch, ~20 GB at 10^10 keys);
     new shape (r04): or_merge only the touched buckets, partition-
     scoped commit, untouched bucket files carried forward
     (O(touched) per epoch).
   Both shapes are timed here on the SAME sidecar and the SAME delta;
   bytes written per epoch are read from the catalog manifests.

2. Seen-set anti-join read: the exact ``unseen`` verification against
   a LARGE urls_seen table with frontier candidates concentrated in a
   few host buckets —
     old shape: full-table read feeds the anti-join (O(table) scan);
     new shape: read_buckets of the candidate buckets only.

Usage: python tools/scale_paths_probe.py [sidecar_keys] [seen_rows]
Writes one JSON line per measurement; the summary goes to
BENCH/BASELINE.md (addendum 5).
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from scrapetition_spark.plans.seen import BLOOM_SIDECAR, PartitionedBloom
from scrapetition_spark.schemas import URLS_SEEN
from scrapetition_spark.session import get_spark
from scrapetition_spark.sources.catalog import Catalog


def urls_frame(spark, start, n, n_hosts, n_buckets):
    host = F.concat(F.lit("h"), F.pmod(F.col("id"), F.lit(n_hosts)).cast("string"),
                    F.lit(".test"))
    return spark.range(start, start + n, 1, 32).select(
        F.concat(F.lit("https://"), host, F.lit("/d/"),
                 F.col("id").cast("string")).alias("url"),
        host.alias("host"),
        F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int").alias("host_bucket"),
    )


def probe_sidecar(spark, expected_keys: int, epochs: int = 4) -> dict:
    n_buckets = 256
    pb = PartitionedBloom(expected_keys, 16, n_buckets)
    sidecar_bytes = (pb.m_bits // 8) * n_buckets

    # per-epoch delta: 200k due URLs on 16 hosts → ~16 buckets of 256
    out = {"m_bits": pb.m_bits, "sidecar_bytes": sidecar_bytes}
    base = urls_frame(spark, 0, 2_000_000, 4000, n_buckets)
    for shape in ("old_full", "new_scoped"):
        # fresh catalog per shape: the old shape's plain overwrite
        # would otherwise poison the scoped layout
        cat = Catalog(spark, tempfile.mkdtemp(prefix=f"sideprobe-{shape}-"))
        cat.overwrite_partitions("bloom_sidecar", pb.build(base), "bucket", None)
        times, wrote = [], []
        for e in range(epochs):
            delta_urls = urls_frame(
                spark, 10_000_000 + e * 200_000, 200_000, 16, n_buckets
            ).localCheckpoint()
            t0 = time.time()
            delta = pb.build(delta_urls.select("url", "host_bucket"))
            if shape == "old_full":
                merged = pb.or_merge(
                    cat.read("bloom_sidecar", BLOOM_SIDECAR).unionByName(delta)
                )
                cat.overwrite("bloom_sidecar", merged)
            else:
                touched = sorted(
                    r["host_bucket"]
                    for r in delta_urls.select("host_bucket").distinct().collect()
                )
                old = cat.read_buckets("bloom_sidecar", BLOOM_SIDECAR, touched)
                merged = pb.or_merge(old.unionByName(delta))
                cat.overwrite_partitions("bloom_sidecar", merged, "bucket", touched)
            times.append(time.time() - t0)
            snap = cat._snapshot("bloom_sidecar", cat.head("bloom_sidecar"))
            prev = cat._snapshot("bloom_sidecar", cat.head("bloom_sidecar") - 1)
            new_dirs = set(snap.sizes) - set(prev.sizes)
            wrote.append(sum(snap.sizes[d] for d in new_dirs))
        out[shape] = {
            "sec_per_epoch": [round(t, 2) for t in times],
            "bytes_per_epoch": wrote,
        }
        print(json.dumps({f"sidecar_{shape}": out[shape]}), flush=True)
    return out


def probe_seen(spark, seen_rows: int, epochs: int = 3) -> dict:
    n_buckets = 256
    cat = Catalog(spark, tempfile.mkdtemp(prefix="seenprobe-"))
    cat.bucket_min_bytes = 0  # bucketed from birth
    seen = urls_frame(spark, 0, seen_rows, 4000, n_buckets).select(
        "url", "host",
        F.lit(0).cast("long").alias("fetch_seq"),
        F.lit(0).cast("int").alias("epoch"),
        F.lit(200).cast("int").alias("status"),
        F.lit(None).cast("string").alias("encoding"),
    )
    bucket = F.pmod(F.xxhash64("host"), F.lit(n_buckets)).cast("int")
    cat.append_bucketed("urls_seen", seen, bucket, {"n": n_buckets})
    table_bytes = cat.table_bytes("urls_seen")

    # candidates: 500k frontier rows on 16 hosts (≤16 buckets), half
    # of them already seen (URL-id overlap) so the anti-join has work
    cand = (
        urls_frame(spark, 0, 500_000, 4000, n_buckets)
        .filter(F.pmod(F.xxhash64("host"), F.lit(256)) < 16)
        .unionByName(urls_frame(spark, seen_rows, 250_000, 16, n_buckets))
        .localCheckpoint()
    )
    buckets = sorted(
        r["host_bucket"] for r in cand.select("host_bucket").distinct().collect()
    )
    out = {"table_bytes": table_bytes, "n_cand": cand.count(),
           "n_buckets_touched": len(buckets)}
    for shape in ("old_full", "new_pruned"):
        times = []
        for _ in range(epochs):
            t0 = time.time()
            if shape == "old_full":
                s = cat.read("urls_seen", URLS_SEEN)
            else:
                s = cat.read_buckets("urls_seen", URLS_SEEN, buckets)
            n = cand.join(s.select("url"), ["url"], "left_anti").count()
            times.append(time.time() - t0)
        out[shape] = {"sec": [round(t, 2) for t in times], "unseen_rows": n}
        print(json.dumps({f"seen_{shape}": out[shape]}), flush=True)
    return out


def main():
    sidecar_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 1 << 27
    seen_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000
    spark = get_spark(app_name="scale-paths-probe", master="local[32]",
                      shuffle_partitions=64)
    res = {
        "sidecar": probe_sidecar(spark, sidecar_keys),
        "seen": probe_seen(spark, seen_rows),
    }
    print("RESULT " + json.dumps(res))


if __name__ == "__main__":
    main()
