"""r14 SCALING probe: per-batch TOKEN bytes written by the streaming
index writer's tiered-file appends (update.py) on a multi-batch
documents stream.

Drives a ``StreamingIndexWriter`` over doc_id-sliced batches: appends
flow through ``update_index_delta``'s tiered-file path (new rows land as
additional bucket files, settled files hardlink forward, small files
fold Bentley-Saxe-style). "New bytes" for a snapshot = bytes of token
files whose inode did NOT exist in the previous snapshot (hardlinked
files are free). Metadata (doc_stats/centroids/meta) is reported
separately — it is ~avg_doclen× smaller than tokens by construction.

Usage: python tools/ingest_bytes_r14.py [sf_dir]   (default sf0.01)
Prints one JSON line; paste the summary into SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from next_plaid_spark.session import get_spark  # noqa: E402
from next_plaid_spark.streaming.ingest import StreamingIndexWriter  # noqa: E402

N_BATCHES = 10


def _tok_dir(root: str, v: int) -> str:
    return os.path.join(root, f"v{v}", "tokens_bucketed")


def _files(d: str) -> list[tuple[str, int, int, int]]:
    from next_plaid_spark.sources.tiered import parquet_rows

    out = []
    for f in os.listdir(d):
        if f.startswith(("_", ".")):
            continue
        p = os.path.join(d, f)
        st = os.stat(p)
        out.append((f, st.st_ino, st.st_size, parquet_rows(p)))
    return out


def _meta_files(root: str, v: int) -> list[tuple[int, int]]:
    """(inode, size) of every metadata file of snapshot v — doc_stats is
    tiered+hardlinked since r14, so new-inode accounting applies to it
    exactly as to the token files."""
    out = []
    vd = os.path.join(root, f"v{v}")
    for name in ("doc_stats", "centroids"):
        p = os.path.join(vd, name)
        if os.path.isdir(p):
            for dirpath, _dirs, files in os.walk(p):
                for f in files:
                    st = os.stat(os.path.join(dirpath, f))
                    out.append((st.st_ino, st.st_size))
    return out


def run(spark, docs, *, bucket_tokens):
    root = tempfile.mkdtemp(prefix="ingest_bytes_r14_")
    w = StreamingIndexWriter(spark, root, dim=16, nbits=4, seed=42,
                             bucket_tokens=bucket_tokens)
    per_batch = []
    prev_inodes: set[int] = set()
    prev_meta_inodes: set[int] = set()
    for i in range(N_BATCHES):
        w.process_batch(docs.filter(F.col("doc_id") % N_BATCHES == i), i)
        fs = _files(_tok_dir(root, i))
        mf = _meta_files(root, i)
        per_batch.append({
            "batch": i,
            # rows are the overhead-immune metric: a tiny bucket file is
            # mostly fixed parquet footer, so bytes under-state the
            # structural gap at small SF
            "new_token_rows": sum(rw for _f, ino, _s, rw in fs
                                  if ino not in prev_inodes),
            "new_token_bytes": sum(sz for _f, ino, sz, _r in fs
                                   if ino not in prev_inodes),
            "total_token_bytes": sum(sz for _f, _i, sz, _r in fs),
            "total_token_rows": sum(rw for _f, _i, _s, rw in fs),
            "n_token_files": len(fs),
            "new_meta_bytes": sum(sz for ino, sz in mf
                                  if ino not in prev_meta_inodes),
        })
        prev_inodes = {ino for _f, ino, _s, _r in fs}
        prev_meta_inodes = {ino for ino, _s in mf}
    return per_batch


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("ingest-bytes-r14", shuffle_partitions=8)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).cache()
    docs.count()

    per_batch = run(spark, docs, bucket_tokens=8)

    # batch 0 is the initial build — the append economy is batches 1..N-1;
    # each appended row is written once plus once per fold that takes it
    appended = per_batch[-1]["total_token_rows"] - per_batch[0]["total_token_rows"]
    written = sum(r["new_token_rows"] for r in per_batch[1:])
    print(json.dumps({
        "sf_dir": sf_dir,
        "n_batches": N_BATCHES,
        "append_token_rows": written,
        "appended_token_rows": appended,
        "row_write_amplification":
            round(written / appended, 2) if appended else None,
        "append_token_bytes": sum(r["new_token_bytes"] for r in per_batch[1:]),
        "append_meta_bytes": sum(r["new_meta_bytes"] for r in per_batch[1:]),
        "final_token_files": per_batch[-1]["n_token_files"],
        "per_batch": per_batch,
    }))


if __name__ == "__main__":
    main()
