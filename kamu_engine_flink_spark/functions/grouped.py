"""Batched grouped fold: a mapInPandas replacement for per-key applyInPandas.

`DataFrame.groupBy(keys).applyInPandas(fn)` invokes `fn` once per key with
a per-group Arrow round-trip. At high key cardinality (the 100 TB shape:
millions of user_id-grade keys, a handful of rows each) that per-group
framework overhead — slicing, FFI, one Arrow batch per group — dominates
end-to-end runtime by orders of magnitude (measured ~0.5 ms/group even for
a no-op fold). Slicing each group out as its own pandas frame inside one
batch costs about as much (~0.7 ms/key for the Top-N fold's groupby,
reset_index and per-column tolist).

`grouped_map_batched` therefore has ONE contract:
`batch_fold(chunk_pdf, starts) -> list[dict]`, called once per chunk of
complete key runs with the 0-based offsets where each run begins (always
containing 0; a run ends at the next start or at len(chunk_pdf)). The fold
extracts its columns once per chunk (numpy arrays, plain lists) and walks
each run as an index range. The machinery:

  1. hash-partition by the keys (all rows of a key land in one partition),
  2. sort within partitions by (keys..., sort_cols...) so groups are
     contiguous runs and each group arrives pre-sorted,
  3. mapInPandas: stream the partition's Arrow batches, cut each batch at
     its last run start and CARRY the rows after the cut to the next batch
     (a group may straddle batch boundaries); fold everything before the
     cut in one call and emit ONE output DataFrame per call.

A constant key (the global Top-N, key-less MATCH_RECOGNIZE) is one run: the
carry keeps it whole and it is folded once when the partition ends.
Records are dicts; missing keys become NULL, matching applyInPandas'
column-aligned construction. Null keys are preserved as groups (pandas
NaN-equality is handled in the run splitter), matching Spark groupBy
semantics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def nullify(x):
    """A pandas cell as the folds see it: None, NaN and NaT (how nullable
    columns arrive in Arrow batches) all become None."""
    if x is None or x is pd.NaT:
        return None
    if isinstance(x, float) and x != x:
        return None
    return x


def _run_starts(pdf, keys):
    """0-based positions where the key tuple differs from the previous row
    (NaN == NaN). Position 0 is always a start."""
    import numpy as np

    m = None
    for k in keys:
        s = pdf[k]
        p = s.shift()
        neq = ~((s == p) | (s.isna() & p.isna()))
        m = neq if m is None else (m | neq)
    m = m.to_numpy()
    m[0] = True
    return np.flatnonzero(m)


def grouped_map_batched(
    df: DataFrame,
    keys: list[str],
    batch_fold: Callable[..., list[dict]],
    out_schema,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Apply `batch_fold(chunk_pdf, starts) -> list[dict]` to every
    partition's complete key runs, with batch-amortized overhead. See the
    module docstring for the contract."""
    if not keys:
        raise ValueError("grouped_map_batched requires at least one key")
    out_names = [f.name for f in out_schema.fields]

    def mapper(batches) -> Iterator:
        def fold(pdf):
            recs = batch_fold(pdf, _run_starts(pdf, keys).tolist())
            if recs:
                # Column-wise construction: pandas' list-of-dicts inference
                # walks every cell; this is ~3x faster on wide outputs.
                yield pd.DataFrame(
                    {c: [r.get(c) for r in recs] for c in out_names},
                    columns=out_names,
                )

        # Rows after the last cut: the trailing run may continue into the
        # next batch. A batch whose only run start is row 0 has no cut (its
        # first row may continue the carry) and joins the carry whole. Kept
        # as pieces, so a run spanning many batches is concatenated once.
        carry: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            tail = int(_run_starts(pdf, keys)[-1])
            if tail == 0:
                carry.append(pdf)
                continue
            yield from fold(
                pd.concat([*carry, pdf.iloc[:tail]], ignore_index=True)
            )
            carry = [pdf.iloc[tail:]]
        if carry:
            yield from fold(pd.concat(carry, ignore_index=True))

    # Explicit partition count: a keys-only repartition is AQE-coalescible,
    # and the fold's shuffle is tiny in BYTES (pruned survivors) while the
    # stage's cost is per-ROW Python CPU — AQE's advisory-size coalescing
    # (64 MB) collapses it to 1-2 partitions and serializes the whole fold
    # onto one core (measured: the keyed Top-N fold ran 14 s single-task
    # at bench scale). A user-specified count is exempt from coalescing;
    # defaultParallelism scales with the cluster.
    n = df.sparkSession.sparkContext.defaultParallelism
    ordered = df.repartition(n, *keys).sortWithinPartitions(
        *keys, *(sort_cols or [])
    )
    return ordered.mapInPandas(mapper, out_schema)
