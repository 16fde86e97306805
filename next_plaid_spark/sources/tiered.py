"""Tiered snapshot stores — the one fold rule and hardlink carry of every
incremental snapshot writer (the reference's update.rs / index.rs:1431-1848
in-place updates as O(batch) snapshot hops).

A store component is a set of immutable files. A new snapshot writes the
arriving rows as new file(s), rewrites ("folds") a chosen set of old files
into them, and hardlinks every other old file forward, so each row is
rewritten O(log updates) times over a snapshot chain. The fold rule
(``fold_set``) is Bentley–Saxe size tiering: smallest first, an old file
folds while its size is ≤ ``FOLD_RATIO`` × the mass accumulated so far
(the arriving rows plus the files already folded), then adds to it. A
must-fold file — one that may hold a deleted doc — always folds and adds
no mass. Parquet components tier on footer row counts (bytes under-weight
small files, mostly fixed parquet overhead); the streaming sinks'
generations tier on directory bytes.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Iterable, Mapping

from pyspark.sql import DataFrame

#: an old file folds while its size is at most this multiple of the
#: accumulated mass
FOLD_RATIO = 2.0

#: most delete ids collected locally for footer range pruning; over
#: it every file counts as possibly holding a deleted doc
GONE_CAP = 100_000

#: rows per output file of one ``write_doc_ranged`` hop, of the build's
#: ``doc_stats`` write and of the BM25 ``doclens`` and ``term_stats`` (one
#: file is the tier; a corpus-sized write splits so no one write task owns
#: the store)
ROWS_PER_FILE = 4_000_000

#: token rows per bucket of a PLAID token table (``n_buckets``) and per
#: file of the BM25 ``postings`` and ``positions``: the grain at which a
#: delete rewrites a token-sized store
TOKENS_PER_BUCKET = 65_536


def n_files(rows: int, per_file: int | None = None) -> int:
    """Output files of a write of ``rows`` rows: one per ``per_file``
    (``ROWS_PER_FILE`` by default), at least one."""
    return max(1, rows // (per_file or ROWS_PER_FILE))


def n_buckets(tokens: int, cap: int) -> int:
    """Buckets of a token table of ``tokens`` rows: one per
    ``TOKENS_PER_BUCKET``, at least one and at most ``cap`` (so the default
    cap of 32 binds from about 2.1M tokens up)."""
    return min(cap, n_files(tokens, TOKENS_PER_BUCKET))


def bucket_shuffle(df: DataFrame, n: int, col) -> DataFrame:
    """``df`` hash-shuffled on ``col`` into ``n`` partitions, written by at
    most one task per core. The shuffle puts every bucket's rows in exactly
    one partition, so a ``bucketBy``/``partitionBy`` write gives each
    bucket (or partition dir) one file; the coalesce only hands whole
    partitions to fewer tasks, so that still holds, and it is a no-op once
    cores ≥ ``n``."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, col).coalesce(min(n, cores))


def parquet_rows(path: str) -> int:
    """Row count from the parquet footer — a local metadata read
    (no data pages), the tiering key of the parquet components."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def parquet_minmax(path: str, col: str) -> tuple[int, int] | None:
    """(min, max) of ``col`` from the parquet footer's row-group
    statistics, or None when any row group lacks them (the caller must
    then treat the file as possibly containing anything)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = md.schema.names.index(col)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (int(lo), int(hi))


def list_files(d: str) -> list[tuple[str, int, tuple[int, int] | None]]:
    """(path, footer rows, footer doc_id min/max) of each data file of a
    parquet dir — ``_SUCCESS`` and hidden ``.crc`` sidecars skipped."""
    out = []
    for fn in os.listdir(d):
        if fn.startswith((".", "_")):
            continue
        p = os.path.join(d, fn)
        out.append((p, parquet_rows(p), parquet_minmax(p, "doc_id")))
    return out


def fold_set(sizes: Mapping[str, int], mass: int,
             must_fold: Callable[[str], bool] = lambda _p: False) -> set[str]:
    """The paths of ``sizes`` one hop folds, by the module docstring's rule
    with ``mass`` arriving rows; with no mass only must-fold paths fold."""
    folded: set[str] = set()
    for p, size in sorted(sizes.items(), key=lambda kv: kv[1]):
        if must_fold(p):
            folded.add(p)
        elif mass > 0 and size <= FOLD_RATIO * mass:
            folded.add(p)
            mass += size
    return folded


def collect_gone(gone: DataFrame) -> list[int] | None:
    """The delete set's doc_ids collected locally (footer range pruning
    needs them here), or None when there are more than ``GONE_CAP``."""
    rows = gone.limit(GONE_CAP + 1).collect()
    return None if len(rows) > GONE_CAP else [int(r.doc_id) for r in rows]


def may_hold(minmax: tuple[int, int] | None,
             gone_ids: list[int] | None) -> bool:
    """Whether a file with footer doc_id range ``minmax`` may hold one of
    ``gone_ids`` (``collect_gone``'s result; [] = nothing deleted)."""
    if gone_ids is None:
        return True
    if not gone_ids:
        return False
    if minmax is None:
        return True
    lo, hi = minmax
    return any(lo <= g <= hi for g in gone_ids)


def carry(paths: Iterable[str], dst_dir: str) -> None:
    """Hardlink each file into ``dst_dir`` under its own name — a copy
    when the link fails (e.g. across filesystems)."""
    for p in paths:
        dst = os.path.join(dst_dir, os.path.basename(p))
        try:
            os.link(p, dst)
        except OSError:
            shutil.copy2(p, dst)


def write_marker(path: str, text: str) -> None:
    """Write a snapshot's commit marker (its ``meta.json``) whole or not
    at all: the text lands under a hidden temp name in the same
    directory, then ``os.replace`` renames it into place, so a crash
    never leaves an empty or partial marker that readers would take for
    a complete snapshot."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def write_doc_ranged(old_dir: str, new_dir: str, new_rows: DataFrame,
                     mass: int, *, gone: DataFrame | None,
                     gone_ids: list[int] | None,
                     sort_cols: tuple[str, ...] = (),
                     per_file: int | None = None) -> None:
    """One hop of a doc_id-ranged component: the folded old files minus
    ``gone`` plus ``new_rows`` (``mass`` rows), one file per ``per_file``
    rows (``n_files``), sorted within by ``sort_cols``; then carry the rest.
    A file whose footer range may hold a gone doc must fold, so no stale
    row survives (and delete-then-re-add of one doc_id is safe)."""
    files = list_files(old_dir)
    ranges = {p: mm for p, _rows, mm in files}
    folded = fold_set({p: rows for p, rows, _mm in files}, mass,
                      lambda p: may_hold(ranges[p], gone_ids))
    merged = new_rows
    if folded:
        kept = (new_rows.sparkSession.read.schema(new_rows.schema)
                .parquet(*sorted(folded)))
        if gone is not None:
            kept = kept.join(gone, "doc_id", "left_anti")
        merged = kept.select(*new_rows.columns).unionByName(new_rows)
    n_merged = mass + sum(rows for p, rows, _mm in files if p in folded)
    merged = merged.coalesce(n_files(n_merged, per_file))
    if sort_cols:
        merged = merged.sortWithinPartitions(*sort_cols)
    merged.write.mode("overwrite").parquet(new_dir)
    carry([p for p, _rows, _mm in files if p not in folded], new_dir)
