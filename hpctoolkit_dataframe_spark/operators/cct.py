"""CCT (calling-context-tree) operators, Spark-first.

Every operator here re-expresses a capability of the reference
(hpctoolkit_dataframe/hpctoolkit_dataframe.py) as declarative DataFrame
transformations so Catalyst can prune/push/reorder, instead of the
reference's row-at-a-time ``apply``/``iterrows`` loops.

Expected input shape (the flattened CCT — the reference flattens the
tree exactly this way at ingest, hpctoolkit_dataframe.py:233-289):

- ``id: bigint``          unique node id (root = -1 by convention)
- ``callpath: array<bigint>``  root-to-node ids, root = []
- zero or more metric columns
- optional partition columns (e.g. ``profile_id``) so many experiments
  coexist in one DataFrame — everything here is per-profile when
  ``partition_cols`` is given, which is what makes the operators scale:
  at 100 TB the data is millions of independent ~10^4-row trees, and all
  joins/windows key on (profile, path) so no global shuffle hotspot.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import callpath as cp

ROOT_ID = -1  # reference _ROOT_INDEX, hpctoolkit_dataframe.py:48

# Build-side row cap for FORCING a shuffled-hash join in the parent/
# ancestor self-joins.  SHJ was measured faster than sort-merge at
# bench scale (the exploded probe side pays an O(n log n) sort under
# SMJ), but its build-side hash map CANNOT spill, so the cap must
# scale with the heap actually available — a fixed row count is only
# valid at the heap it was calibrated on.  Two measured OOMs pin the
# density: the r7 30x run died at 18.6M build rows on an 8 GiB heap
# (6.2M was fine), and the r7 low-memory probe died at the SAME 6.2M
# rows on a 3 GiB heap.  800k rows per heap-GiB sits just above the
# known-good 6.2M/8GiB point and a factor ~3 below both known-bad
# points.  Above the cap the hint is dropped and Catalyst/AQE pick
# the strategy (sort-merge — degrades gracefully via spill).  Checked
# against a count of the ALREADY MATERIALIZED input (memoized build or
# the eager localCheckpoint this function itself takes), so the probe
# costs one cheap cached-scan job.
SHJ_ROWS_PER_HEAP_GIB = 800_000


def _parse_mem_gib(mem: str) -> float:
    """Parse a Spark memory string to GiB, matching JavaUtils
    byteStringAsMb: optional single-letter unit with optional trailing
    'b' ('8g', '8gb', '512mb'), and a BARE number means MiB (Spark's
    convention for spark.*.memory), not bytes."""
    mem = mem.strip().lower()
    units = {"k": 1 / (1024 * 1024), "m": 1 / 1024, "g": 1, "t": 1024,
             "p": 1024 * 1024}
    if mem.endswith("b") and len(mem) > 1 and mem[-2] in units:
        mem = mem[:-1]
    elif mem.endswith("b") and mem[:-1].isdigit():
        # bare 'b' with no unit letter is BYTES in JavaUtils ('800b');
        # falling through to the MiB fallback overstated heap ~1000x
        # for this form (ADVICE r8)
        return float(mem[:-1]) / (1024 ** 3)
    try:
        if mem[-1] in units:
            return float(mem[:-1]) * units[mem[-1]]
        return float(mem) / 1024  # bare number = MiB (JavaUtils)
    except (ValueError, IndexError):
        return 1.0


def _shj_build_row_cap(spark) -> int:
    """Heap-proportional SHJ build-side cap.  Local mode does the work
    in the driver JVM; on a cluster the executors build the maps — and
    the map is PER TASK, so the executor heap is divided by its task
    slots (spark.executor.cores).  The 800k/GiB density was calibrated
    in local mode, where concurrent tasks share the driver heap but the
    probed joins run effectively one-at-a-time; on a cluster the
    per-slot division is the conservative reading of the same data."""
    conf = spark.sparkContext.getConf()
    master = conf.get("spark.master", "")
    if master.startswith("local"):
        gib = _parse_mem_gib(conf.get("spark.driver.memory", "1g"))
    else:
        gib = _parse_mem_gib(conf.get("spark.executor.memory", "1g"))
        try:
            slots = max(1, int(conf.get("spark.executor.cores", "1")))
        except ValueError:
            slots = 1
        gib /= slots
    return max(1, int(gib * SHJ_ROWS_PER_HEAP_GIB))


# ---------------------------------------------------------------------------
# broadcast-scan walk-up (r9): the general (non-monotone) walk-up used
# to explode every node into its ancestor prefixes (|df| x depth rows)
# and shuffle them against the node table (SHJ under the cap, else
# SMJ), then aggregate the deepest qualifying ancestor and join back —
# three shuffles of depth-multiplied data.  But the per-node decision
# only needs ancestor VALUES along the node's own path, and the node
# value table packs to 25 bytes/row (two 64-bit path hashes + float64
# value + null flag): at the 100x clone's 6.2M-node tree that is
# ~150 MB — shippable to every MACHINE once (SparkFiles + np.memmap,
# page-cache shared across that machine's Python workers, NOT one copy
# per worker) and scanned with vectorized searchsorted.  The whole
# operator becomes: one slim map-build job, one mapInPandas scan —
# ZERO shuffles.  Gated on a heap-proportional row cap with fallback
# to the explode path (same philosophy as SHJ_BUILD_ROW_CAP).
#
# Path identity uses two independent 64-bit polynomial rolling hashes
# (h' = h*A + (id + X) mod 2^64) seeded per partition-column tuple;
# a false hit needs a simultaneous 128-bit collision against ~2^23
# keys (~1e-24 over the probe volume) and any such event would fail
# the hash-exact oracle gate, not silently corrupt downstream.
# ---------------------------------------------------------------------------
# Default 0 = the ancestor-explode path always (opt in via env).  The
# broadcast-scan variant was written as the r9 answer to the walk-up's
# skew/wall-time flags, and its first A/B (load 30-46) showed x1.5-2.2
# wins — but a matched QUIET-box A/B (3 reps, count action, same
# session) showed explode >= bcast at every scale: sf0.1 4.2 vs 5.8 s,
# 10x 23 vs 30 s, 10x-skew 12.4 vs 14.4 s, 100x 295 vs 355 s.  The
# original numbers were load-confounded (fewer stages suffer less
# contention), and the scan path's driver-assembled map is the
# anti-scale piece: it caps at driver heap (64M rows at 8 GiB) while
# the explode's shuffle is the primitive that actually survives a
# 1000-executor scale-up.  The path is retained, value-pinned equal
# (tests/test_cct_ops.py), for contention-bound deployments.
try:
    WALKUP_BCAST_ROWS_PER_HEAP_GIB = int(os.environ.get(
        "SPARK_GRAFT_WALKUP_BCAST_ROWS_PER_HEAP_GIB", "0"))  # 25 B/row map
except ValueError as _e:  # a malformed value ('8g') must name the knob,
    # not kill every import of the package with a bare int() traceback
    raise ValueError(
        "SPARK_GRAFT_WALKUP_BCAST_ROWS_PER_HEAP_GIB must be an integer "
        f"(rows per driver-heap GiB), got "
        f"{os.environ['SPARK_GRAFT_WALKUP_BCAST_ROWS_PER_HEAP_GIB']!r}"
    ) from _e
_WK_A1 = 0x9E3779B97F4A7C15  # odd multipliers (splitmix64 / xxh finalizer
_WK_A2 = 0xC2B2AE3D27D4EB4F  # constants), independent streams
_WK_X = 0xD6E8FEB86659FD93   # id mix-in so id 0 advances the hash


def _walkup_bcast_row_cap(spark) -> int:
    """Heap-proportional cap for the broadcast walk-up map.  The map is
    memmap'd from a SparkFiles-distributed file, so the steady-state
    cost is one page-cache copy per machine; the binding constraint is
    the DRIVER assembling and sorting the packed arrays (~2 transient
    copies at 25 B/row).  8M rows/GiB keeps that under ~40% of heap."""
    if WALKUP_BCAST_ROWS_PER_HEAP_GIB <= 0:
        return 0  # knob disabled: no frame, not even 1-row, qualifies
    conf = spark.sparkContext.getConf()
    gib = _parse_mem_gib(conf.get("spark.driver.memory", "1g"))
    return max(1, int(gib * WALKUP_BCAST_ROWS_PER_HEAP_GIB))


def _pc_seed_arrays(pdf, pc):
    """Per-row (seed1, seed2) uint64 arrays from the partition-column
    tuple, so identical paths under different profiles never meet."""
    import hashlib

    import numpy as np

    def seeds(tup):
        b = repr(tup).encode()
        return (int.from_bytes(hashlib.blake2b(
                    b, digest_size=8, person=b"walkup-1").digest(), "little"),
                int.from_bytes(hashlib.blake2b(
                    b, digest_size=8, person=b"walkup-2").digest(), "little"))

    n = len(pdf)
    if not pc:
        s1, s2 = seeds(())
        return (np.full(n, s1, dtype=np.uint64),
                np.full(n, s2, dtype=np.uint64))
    import pandas as pd

    keys = pd.Series(list(zip(*(pdf[c] for c in pc))), index=pdf.index)
    codes, uniques = pd.factorize(keys)
    pairs = [seeds(u) for u in uniques]
    u1 = np.array([p[0] for p in pairs], dtype=np.uint64)
    u2 = np.array([p[1] for p in pairs], dtype=np.uint64)
    return u1[codes], u2[codes]


def _prefix_hash_matrix(paths, s1, s2):
    """(n, dmax+1) running-hash matrices: column k holds the hash of
    the length-k prefix of each row's path (column 0 = the seed = the
    empty path).  Fully vectorized over rows; the k-loop is bounded by
    tree depth."""
    import numpy as np

    n = len(paths)
    plist = [np.asarray(p, dtype=np.int64) for p in paths]
    depths = np.fromiter((len(p) for p in plist), dtype=np.int64, count=n)
    dmax = int(depths.max()) if n else 0
    ids = np.zeros((n, dmax), dtype=np.uint64)
    if dmax:
        flat = (np.concatenate(plist) if plist else
                np.empty(0, np.int64)).view(np.uint64)
        rows = np.repeat(np.arange(n), depths)
        ends = np.cumsum(depths)
        cols = np.arange(int(ends[-1]) if n else 0) - np.repeat(
            ends - depths, depths)
        ids[rows, cols] = flat
    h1 = np.empty((n, dmax + 1), dtype=np.uint64)
    h2 = np.empty((n, dmax + 1), dtype=np.uint64)
    h1[:, 0], h2[:, 0] = s1, s2
    a1, a2, x = np.uint64(_WK_A1), np.uint64(_WK_A2), np.uint64(_WK_X)
    for k in range(dmax):
        mixed = ids[:, k] + x
        h1[:, k + 1] = h1[:, k] * a1 + mixed
        h2[:, k + 1] = h2[:, k] * a2 + mixed
    return h1, h2, depths


def _walkup_lookup(h1s, h2s, q1, q2):
    """Vectorized 128-bit probe of the sorted map: searchsorted on h1,
    then verify (h1, h2) scanning at most 4 slots forward (the map is
    sorted by (h1, h2); >3 same-h1 keys needs multiple 64-bit
    collisions among the keys themselves)."""
    import numpy as np

    p = np.searchsorted(h1s, q1)
    found = np.zeros(q1.shape, dtype=bool)
    idx = np.zeros(q1.shape, dtype=np.int64)
    for off in range(4):
        pi = p + off
        cand = np.nonzero(~found & (pi < h1s.size))[0]
        if not cand.size:
            break
        pc_ = pi[cand]
        hit = (h1s[pc_] == q1[cand]) & (h2s[pc_] == q2[cand])
        found[cand[hit]] = True
        idx[cand[hit]] = pc_[hit]
    return found, idx


_WALKUP_MAPS: dict = {}  # worker-side memmap cache (empty when pickled)


def _load_walkup_map(fname):
    got = _WALKUP_MAPS.get(fname)
    if got is None:
        import numpy as np
        from pyspark import SparkFiles

        path = SparkFiles.get(fname)
        raw = np.memmap(path, dtype=np.uint8, mode="r")
        n = int(np.frombuffer(raw[:8].tobytes(), dtype=np.int64)[0])
        o = 8
        h1s = np.frombuffer(raw, dtype=np.uint64, count=n, offset=o)
        o += 8 * n
        h2s = np.frombuffer(raw, dtype=np.uint64, count=n, offset=o)
        o += 8 * n
        vals = np.frombuffer(raw, dtype=np.float64, count=n, offset=o)
        o += 8 * n
        nulls = np.frombuffer(raw, dtype=np.uint8, count=n,
                              offset=o).astype(bool)
        got = (h1s, h2s, vals, nulls)
        _WALKUP_MAPS[fname] = got
    return got


_WALKUP_FILES_ADDED: set = set()  # driver-side addFile dedup


def _walkup_broadcast_scan(df, base_column, column_name, pc,
                           callpath_col, carry_cols):
    """Zero-shuffle walk-up: build the (path-hash -> value) map with one
    slim job, distribute it via SparkFiles, resolve every node's walk in
    one vectorized mapInPandas scan.  Exact same semantics as the
    explode path (pinned equal by tests/test_cct_ops.py)."""
    import os
    import tempfile

    import numpy as np

    from .._pickle import register_module_by_value

    register_module_by_value(__name__)
    spark = df.sparkSession
    pc = list(pc)
    slim_map = df.select(
        *pc, F.col(callpath_col).alias("__path"),
        F.col(base_column).cast("double").alias("__v"))
    pc_names = list(pc)

    def _pack(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            s1, s2 = _pc_seed_arrays(pdf, pc_names)
            h1m, h2m, depths = _prefix_hash_matrix(pdf["__path"], s1, s2)
            rows = np.arange(n)
            h1 = h1m[rows, depths]
            h2 = h2m[rows, depths]
            vals = pdf["__v"].to_numpy(dtype="float64", na_value=np.nan)
            nulls = pdf["__v"].isna().to_numpy().astype(np.uint8)
            yield pd.DataFrame({"blob": [h1.tobytes() + h2.tobytes()
                                         + vals.tobytes() + nulls.tobytes()]})

    # toLocalIterator, not collect: the packed map is ~25 B/row (1.5 GB
    # at the 100x clone's 62M nodes) and a collect() of that trips
    # spark.driver.maxResultSize (1 GiB default — exactly what happened
    # at the 100x probe); streaming partition-sized blobs bounds the
    # in-flight result at one partition regardless of total map size
    blobs = [r[0] for r in
             slim_map.mapInPandas(_pack, "blob binary")
             .toLocalIterator(prefetchPartitions=True)]
    parts1, parts2, partsv, partsn = [], [], [], []
    for b in blobs:
        m = len(b) // 25
        parts1.append(np.frombuffer(b, np.uint64, m, 0))
        parts2.append(np.frombuffer(b, np.uint64, m, 8 * m))
        partsv.append(np.frombuffer(b, np.float64, m, 16 * m))
        partsn.append(np.frombuffer(b, np.uint8, m, 24 * m))
    h1s = np.concatenate(parts1) if parts1 else np.empty(0, np.uint64)
    h2s = np.concatenate(parts2) if parts2 else np.empty(0, np.uint64)
    vals = np.concatenate(partsv) if partsv else np.empty(0, np.float64)
    nulls = np.concatenate(partsn) if partsn else np.empty(0, np.uint8)
    order = np.lexsort((h2s, h1s))
    h1s, h2s, vals, nulls = h1s[order], h2s[order], vals[order], nulls[order]
    payload = (np.int64(len(h1s)).tobytes() + h1s.tobytes() + h2s.tobytes()
               + vals.tobytes() + nulls.tobytes())
    import hashlib

    fname = ("walkup_map_"
             + hashlib.blake2b(payload, digest_size=12).hexdigest() + ".bin")
    mapdir = os.path.join(tempfile.gettempdir(), "walkup_maps")
    os.makedirs(mapdir, exist_ok=True)
    fpath = os.path.join(mapdir, fname)
    if fname not in _WALKUP_FILES_ADDED:
        if not os.path.exists(fpath):
            tmp = fpath + ".part"
            with open(tmp, "wb") as f:
                f.write(payload)
            os.replace(tmp, fpath)  # atomic: concurrent builders race-safe
        spark.sparkContext.addFile(fpath)
        _WALKUP_FILES_ADDED.add(fname)
    del payload, parts1, parts2, partsv, partsn, blobs

    carry = list(carry_cols) if carry_cols is not None else None
    out_carry = carry if carry is not None else []
    slim_scan = df.select(
        *pc, "id", *out_carry,
        F.col(callpath_col).alias("__path"),
        F.col(base_column).cast("double").alias("__cv"))
    from pyspark.sql import types as T

    out_fields = ([df.schema[c] for c in pc]
                  + [T.StructField("id", df.schema["id"].dataType)]
                  + [df.schema[c] for c in out_carry]
                  + [T.StructField(column_name, T.DoubleType())])
    out_schema = T.StructType(out_fields)
    out_names = [*pc, "id", *out_carry]

    def _scan(batches):
        import pandas as pd

        h1s, h2s, mvals, mnulls = _load_walkup_map(fname)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            s1, s2 = _pc_seed_arrays(pdf, pc_names)
            h1m, h2m, depths = _prefix_hash_matrix(pdf["__path"], s1, s2)
            dmax = h1m.shape[1] - 1
            cols = np.arange(dmax + 1)
            # a depth-d node queries prefixes 0..d-1; the root (d=0)
            # queries its own (empty) path -> ratio 1.0 (reference
            # :369-374)
            qmask = cols[None, :] < np.maximum(depths, 1)[:, None]
            found, midx = _walkup_lookup(h1s, h2s, h1m.ravel(), h2m.ravel())
            found = found.reshape(h1m.shape) & qmask
            v = mvals[midx].reshape(h1m.shape)
            vnull = mnulls[midx].reshape(h1m.shape) & found
            cv = pdf["__cv"].to_numpy(dtype="float64", na_value=np.nan)
            # an ancestor stops the walk when base >= value, base is
            # NULL (reference NaN: `NaN < x` is False), or it is the
            # root; MISSING prefixes are skipped (walk continues)
            with np.errstate(invalid="ignore"):
                q = found & ((v >= cv[:, None]) | vnull | (cols[None, :] == 0))
            anyq = q.any(axis=1)
            deep = dmax - np.argmax(q[:, ::-1], axis=1)
            rows = np.arange(n)
            base = v[rows, deep]
            basenull = vnull[rows, deep]
            with np.errstate(invalid="ignore", divide="ignore"):
                ratio = cv / base
            # try_divide semantics: NULL on zero/NULL base, NULL cv,
            # or no qualifying ancestor (the explode path's left join)
            bad = (~anyq | basenull | np.isnan(cv)
                   | np.isnan(base) | (base == 0))
            # pass carried columns through as the SERIES Arrow delivered
            # (no to_numpy: int-with-null and NaN-vs-NULL fidelity);
            # the ratio itself uses an EXPLICIT null mask — never a bare
            # NaN-means-NULL float column (the r5 trap class)
            out = {c: pdf[c].reset_index(drop=True) for c in out_names}
            out[column_name] = pd.arrays.FloatingArray(
                np.where(bad, 0.0, ratio), bad.copy())
            yield pd.DataFrame(out)

    return slim_scan.mapInPandas(_scan, out_schema)


# ---------------------------------------------------------------------------
# filters (reference at_paths/at_depths/at_depth, :391-401)
# ---------------------------------------------------------------------------

def at_paths(
    df: DataFrame,
    *fragments: Sequence[int],
    prefix: Sequence[int] = (),
    suffix: Sequence[int] = (),
    callpath_col: str = "callpath",
) -> DataFrame:
    """Rows whose callpath starts with ``prefix`` and/or ends with ``suffix``.

    Reference: hpctoolkit_dataframe.py:391-393 (predicate :79-92).
    Arbitrary ``fragments`` raise NotImplementedError exactly like the
    reference (:82-84) — part of the behavioral surface.
    """
    if fragments:
        raise NotImplementedError(
            'filtering by arbitrary fragment "{}" not supported'.format(fragments))
    return df.filter(
        cp.has_prefix(prefix, callpath_col) & cp.has_suffix(suffix, callpath_col))


def at_path_fragments(
    df: DataFrame,
    *fragments: Sequence[int],
    callpath_col: str = "callpath",
) -> DataFrame:
    """Rows whose callpath contains EVERY fragment as a contiguous
    subsequence — the completion of the surface ``at_paths`` declares
    and (matching the reference, :82-84) refuses: the reference's
    commented-out implementation sketch (:85-92) names exactly this
    semantics, so it lives here as a separate extension rather than
    changing at_paths' pinned NotImplementedError behavior."""
    cond = F.lit(True)
    for frag in fragments:
        cond = cond & cp.contains_fragment(frag, callpath_col)
    return df.filter(cond)


def at_depths(
    df: DataFrame,
    min_depth: int | None = None,
    max_depth: int | None = None,
    callpath_col: str = "callpath",
) -> DataFrame:
    """min_depth <= len(callpath) <= max_depth (either bound optional).

    Reference: hpctoolkit_dataframe.py:395-398 (predicate :123-128).
    """
    cond = F.lit(True)
    if min_depth is not None:
        cond = cond & (F.size(callpath_col) >= min_depth)
    if max_depth is not None:
        cond = cond & (F.size(callpath_col) <= max_depth)
    return df.filter(cond)


def at_depth(df: DataFrame, depth: int, callpath_col: str = "callpath") -> DataFrame:
    """Reference: hpctoolkit_dataframe.py:400-401."""
    return at_depths(df, depth, depth, callpath_col)


# ---------------------------------------------------------------------------
# ratio columns (reference add_ratio_column, :340-385)
# ---------------------------------------------------------------------------

def _root_values(
    df: DataFrame, base_column: str, partition_cols: Sequence[str],
    callpath_col: str,
) -> DataFrame:
    return (
        df.filter(F.size(callpath_col) == 0)
        .select(*partition_cols, F.col(base_column).alias("__root_value"))
    )


def with_ratio_of_total(
    df: DataFrame,
    base_column: str,
    column_name: str | None = None,
    partition_cols: Sequence[str] = (),
    callpath_col: str = "callpath",
) -> DataFrame:
    """value / value-at-root, per partition (profile).

    Reference: hpctoolkit_dataframe.py:356-359 — a scalar broadcast of the
    root row's value.  Spark plan: broadcast join of the (one row per
    profile) root table; no window over a global partition, so it scales
    to any number of profiles.
    """
    column_name = column_name or f"{base_column} ratio of total"
    roots = F.broadcast(_root_values(df, base_column, partition_cols, callpath_col))
    joined = (
        df.join(roots, on=list(partition_cols), how="left")
        if partition_cols else df.crossJoin(roots)
    )
    return joined.withColumn(
        column_name,
        # try_divide: a zero-valued root yields NULL, not an ANSI error
        F.try_divide(F.col(base_column).cast("double"),
                     F.col("__root_value").cast("double")),
    ).drop("__root_value")


def ancestor_ratio_columns(
    value: Column, ancestor_value, depth: Column,
) -> tuple[Column, Column]:
    """(ratio of total, ratio of parent) for rows that carry their
    ancestors' values — the loader's walk-up, with no join.

    ``ancestor_value(k)`` returns the value at the row's depth-k ancestor
    for an int Column ``k`` (0 = the root); it is only called with
    0 <= k < ``depth``, the row's callpath length.  Same rule as
    :func:`with_ratio_of_parent`: the deepest ancestor whose value is
    >= ``value`` or NULL stops the walk, else the root; the root row
    resolves to itself.  Per row this is one interpreted ``aggregate``
    over ``depth`` indices.
    """
    stop = F.aggregate(
        F.sequence(F.lit(0), depth - 1), F.lit(0),
        lambda j, k: F.when(
            F.coalesce(ancestor_value(k) >= value, F.lit(True)), k)
        .otherwise(j))
    is_root = depth == 0
    own = F.try_divide(value, value)
    return (
        F.when(is_root, own)
        .otherwise(F.try_divide(value, ancestor_value(F.lit(0)))),
        F.when(is_root, own)
        .otherwise(F.try_divide(value, ancestor_value(stop))),
    )


def _maybe_shuffle_hash(nodes: DataFrame, df: DataFrame) -> DataFrame:
    """Apply the shuffle-hash hint only while the build side provably
    fits the CURRENT heap (_shj_build_row_cap); beyond it, no hint —
    Catalyst picks sort-merge, which spills instead of OOMing."""
    try:
        n = df.count()
    except Exception:
        return nodes  # un-countable input: be safe, no forced SHJ
    cap = _shj_build_row_cap(df.sparkSession)
    return nodes.hint("shuffle_hash") if n <= cap else nodes


def with_ratio_of_parent(
    df: DataFrame,
    base_column: str,
    column_name: str | None = None,
    partition_cols: Sequence[str] = (),
    callpath_col: str = "callpath",
    walk_up: bool = True,
    persist_input: bool = True,
    carry_cols: Sequence[str] | None = None,
    monotone: bool = False,
    depth_id_join: bool = False,
    root_id: int = -1,
) -> DataFrame:
    """value / nearest-ancestor-value, with the reference's walk-up rule.

    ``carry_cols``: when given, the result contains ONLY
    (partition_cols, id, *carry_cols, ratio) — the carried columns ride
    through the aggregation as grouping keys and the wide join-back of
    the full input frame is skipped entirely (one fewer shuffle of the
    wide rows; use for slim analytical outputs, including base_column in
    carry_cols if its original-typed value is wanted).

    ``depth_id_join`` (r13, guide §2.3 shuffle fewer bytes): resolve
    each ancestor by the BIGINT pair (depth, id) instead of the
    (path-hash, full prefix array) equality.  Caller-asserted
    preconditions, which hold for any rollup-built tree here by
    construction: ``id`` is unique per (partition, depth); for every
    row, size(callpath) == depth and callpath[j] (1-indexed) is the id
    of its depth-j ancestor; the partition's root row has an empty
    callpath and id == ``root_id``.  Same inner join, same qualifying
    filter, same deepest-stopper aggregate — only the join KEY changes,
    so each exploded row carries 2 longs instead of a prefix array
    (~2.6x fewer shuffle bytes at sf0.1) and the hash probe compares
    ints instead of arrays.  The oracle side has used exactly this
    (depth, id) rewrite since r9 (_WALKUP_SQL's anc CTE); value
    equality of the two Spark paths is pinned in tests/test_cct_ops.py
    and the entry hash-gates against the full walk-up SQL.

    Reference semantics (hpctoolkit_dataframe.py:360-384): starting at the
    parent, walk up the callpath until an ancestor's value >= own value;
    if no ancestor qualifies the walk terminates at the root, which is
    used regardless.  The root row itself resolves to itself (ratio 1.0).

    Spark plan (r9 default): the DISTRIBUTED ancestor-explode path —
    it is the plan whose shuffle primitive survives a 1000-executor
    scale-up, and the matched quiet-box A/B showed it >= the scan at
    every probed scale (PERF.md r9).  An opt-in broadcast-scan variant
    exists for contention-bound single-box deployments: set
    SPARK_GRAFT_WALKUP_BCAST_ROWS_PER_HEAP_GIB > 0 and, while the node
    table fits the heap-proportional cap (_walkup_bcast_row_cap, 25 B
    per node packed), the walk resolves with ZERO shuffles — one slim
    job packs (path-hash, value) per node, the sorted map ships once
    per machine via SparkFiles + np.memmap, and one mapInPandas scan
    answers every node's walk with vectorized searchsorted.  The
    default path: explode each node into its ancestor prefixes
    (depth d -> d prefixes), join ancestors to node values on
    (partition, path-hash, path), keep qualifying ancestors
    (value >= own, or root), pick the deepest with a max_by aggregate.
    The explode factor equals tree depth (~25 max in fixtures) and the
    join keys include the profile partition, so work stays proportional
    and co-partitioned at scale.  With ``walk_up=False`` this reduces to
    the plain parent join (single self-join, no explode).  Both paths
    are pinned value-equal by tests/test_cct_ops.py.
    """
    column_name = column_name or f"{base_column} ratio of parent"
    pc = list(partition_cols)

    if walk_up and monotone:
        # caller-asserted: base_column is monotone NON-DECREASING up
        # the tree (e.g. a rollup SUM of non-negative leaves), so every
        # immediate parent satisfies the reference's `base >= value`
        # stop rule and the walk provably terminates after ONE step.
        # The ancestor explode (|df| x depth rows) collapses to a plain
        # parent self-join of |df| rows — at 10x scale this was the
        # difference between 26 s and ~4 s for cct_ratio_of_parent,
        # whose oracle remains the FULL walk-up SQL, so the claimed
        # equivalence is hash-checked at two scale factors.  Root joins
        # its own empty path -> ratio 1.0, exactly the walk-up result.
        out_cols = ([*pc, "id", *carry_cols] if carry_cols is not None
                    else list(df.columns))
        child = df.select(
            *out_cols,
            F.col(base_column).cast("double").alias("__cv"),
            cp.parent_path(callpath_col).alias("__ppath"),
        ).withColumn("__pkey", cp.path_key("__ppath"))
        nodes = df.select(
            *[F.col(c).alias(f"__n_{c}") for c in pc],
            F.col(callpath_col).alias("__path"),
            F.col(base_column).cast("double").alias("__value"),
        ).withColumn("__path_key", cp.path_key("__path"))
        joined = child.join(
            _maybe_shuffle_hash(nodes, df),
            on=[F.col(c) == F.col(f"__n_{c}") for c in pc]
            + [F.col("__pkey") == F.col("__path_key"),
               F.col("__ppath") == F.col("__path")],
            how="left",
        )
        return joined.select(
            *[child[c] for c in out_cols],
            F.try_divide(F.col("__cv"), F.col("__value"))
            .alias(column_name))

    if persist_input:
        # the input feeds three plan branches (node table, ancestor
        # explode, final join-back); cache() substitution does NOT
        # survive the self-join's relation deduplication here (observed:
        # the upstream plan ran 3x), so cut the lineage outright with an
        # eager localCheckpoint.  Repartition first: AQE coalesces
        # upstream aggregate output for exchange SIZE, which can leave
        # 1-2 partitions feeding the CPU-heavy ancestor explode.
        sc = df.sparkSession.sparkContext
        df = df.repartition(sc.defaultParallelism).localCheckpoint(eager=True)

    if walk_up and WALKUP_BCAST_ROWS_PER_HEAP_GIB > 0:
        # OPT-IN zero-shuffle broadcast-scan path (r9, default off):
        # when the node table packs under the heap-proportional cap,
        # resolve every walk against a SparkFiles-distributed hash map
        # instead of the ancestor explode + shuffle join + aggregate +
        # join-back.  df is materialized here (memoized build or the
        # checkpoint above), so the count is one cheap cached-scan job.
        # With the knob at its default 0 this whole branch — including
        # the count() that would recompute an unmaterialized input —
        # is skipped (ADVICE r9 #1).
        try:
            n_nodes = df.count()
        except Exception:
            n_nodes = None
        if (n_nodes is not None
                and n_nodes <= _walkup_bcast_row_cap(df.sparkSession)):
            out = _walkup_broadcast_scan(df, base_column, column_name,
                                         pc, callpath_col, carry_cols)
            if carry_cols is not None:
                return out
            return df.join(out, on=[*pc, "id"], how="left")

    # right side gets renamed columns: self-joins on same-lineage frames
    # otherwise resolve both sides to one attribute (trivially-true join)
    nodes = df.select(
        *[F.col(c).alias(f"__n_{c}") for c in pc],
        F.col(callpath_col).alias("__path"),
        F.col(base_column).alias("__value"),
    ).withColumn("__path_key", cp.path_key("__path"))

    if not walk_up:
        child = df.withColumn("__ppath", cp.parent_path(callpath_col))
        child = child.withColumn("__ppath_key", cp.path_key("__ppath"))
        joined = child.join(
            nodes,
            on=[F.col(c) == F.col(f"__n_{c}") for c in pc]
            + [F.col("__ppath_key") == F.col("__path_key"),
               F.col("__ppath") == F.col("__path")],
            how="left",
        )
        return (
            joined.select(
                *[child[c] for c in df.columns],
                F.try_divide(F.col(base_column).cast("double"),
                             F.col("__value").cast("double"))
                .alias(column_name),
            )
        )

    # ancestor prefixes: for depth d, lengths 0..d-1; for the root (d=0),
    # itself (length 0) so root/root = 1.0 like the reference (:369-374).
    # Only (partition, id, value, ancestor-path) travel through the
    # explode+shuffle — the wide columns join back at the very end.
    carry = list(carry_cols) if carry_cols is not None else None
    if depth_id_join:
        # the depth-i ancestor is addressed by the BIGINT pair
        # (i, callpath[i]) — no prefix arrays or path hashes cross the
        # exchange.  greatest(d-1, 0) makes the root (d=0) explode to
        # exactly its own depth 0 like the array path's empty prefix.
        exploded = df.select(
            *pc, "id", *(carry or ()),
            F.col(base_column).cast("double").alias("__cv"),
            F.col(callpath_col).alias("__cp"),
            F.explode(F.sequence(
                F.lit(0), F.greatest(F.size(callpath_col) - 1, F.lit(0))
            )).alias("__anc_depth"),
        ).select(
            *pc, "id", *(carry or ()), "__cv", "__anc_depth",
            F.when(F.col("__anc_depth") == 0,
                   F.lit(root_id).cast("long"))
            .otherwise(F.try_element_at(
                "__cp", F.col("__anc_depth").cast("int")))
            .alias("__anc_id"),
        )
        nodes_di = df.select(
            *[F.col(c).alias(f"__n_{c}") for c in pc],
            F.size(callpath_col).alias("__n_depth"),
            F.col("id").alias("__n_id"),
            F.col(base_column).alias("__value"),
        )
        joined = exploded.join(
            _maybe_shuffle_hash(nodes_di, df),
            on=[F.col(c) == F.col(f"__n_{c}") for c in pc]
            + [F.col("__anc_depth") == F.col("__n_depth"),
               F.col("__anc_id") == F.col("__n_id")],
            how="inner",
        ).select(
            *[exploded[c] for c in (*pc, "id", *(carry or ()), "__cv",
                                    "__anc_depth")],
            F.col("__value").alias("__anc_value"),
        )
    else:
        child = df.select(
            *pc, "id", *(carry or ()),
            F.col(base_column).cast("double").alias("__cv"),
            F.when(
                F.size(callpath_col) == 0,
                F.array(F.col(callpath_col)),
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size(callpath_col) - 1),
                    lambda i: F.slice(F.col(callpath_col), 1, i),
                )
            ).alias("__anc_paths"),
        )
        exploded = child.select(
            *pc, "id", *(carry or ()), "__cv",
            F.explode("__anc_paths").alias("__anc_path")
        ).withColumn("__anc_key", cp.path_key("__anc_path"))

        joined = exploded.join(
            # shuffle-hash, not sort-merge: the exploded side is |df| x
            # depth rows and sorting it dominates the join cost; the node
            # side (the build side) is |df| slim rows — hashing it is
            # cheap WHEN it fits (_shj_build_row_cap guards the 30x +
            # low-mem OOMs)
            _maybe_shuffle_hash(nodes, df),
            on=[F.col(c) == F.col(f"__n_{c}") for c in pc]
            + [F.col("__anc_key") == F.col("__path_key"),
               F.col("__anc_path") == F.col("__path")],
            how="inner",
        ).select(
            *[exploded[c] for c in (*pc, "id", *(carry or ()), "__cv")],
            F.size("__anc_path").alias("__anc_depth"),
            F.col("__value").alias("__anc_value"),
        )

    # an ancestor stops the walk when NOT (base < value): base >= value,
    # base NULL (the reference's NaN: `NaN < x` is False, ratio NaN), or
    # the root.  The first stopper in walk-up order is the DEEPEST one.
    qualifying = joined.filter(
        (F.col("__anc_value").cast("double") >= F.col("__cv"))
        | F.col("__anc_value").isNull()
        | (F.col("__anc_depth") == 0)
    )
    # deepest qualifying ancestor wins (nearest in the walk-up order).
    # r13: max_by, not max(struct) — a struct aggregation buffer is not
    # hash-aggregable, so max(struct) planned as SortAggregate and
    # SORTED the full exploded join output twice (partial + final); it
    # was the measured wall at the 10x clone (explode+join 4.4 s ->
    # +agg 16.5 s) and the reason the entry would not core-scale.
    # max_by keeps a (primitive, primitive) buffer -> whole-stage-
    # codegen HashAggregate.  Equivalence to the old struct-max: each
    # group's qualifying rows have DISTINCT __anc_depth (one row per
    # prefix length), so there are no ordering ties for max_by to
    # resolve nondeterministically, and Spark 4's max_by returns the
    # value AT the max ordering even when that value is NULL (the
    # NULL-at-deepest-stopper case; pinned with struct-max side by side
    # in tests/test_cct_ops.py::test_deepest_aggregate_maxby_semantics).
    deepest = F.max_by(F.col("__anc_value"), F.col("__anc_depth"))
    ratio = F.try_divide(F.col("__cv"), F.col("__base").cast("double"))
    if carry is not None:
        # slim path: group keys carry the output columns, no join-back
        agg = (
            qualifying.groupBy(*pc, "id", *carry, "__cv")
            .agg(deepest.alias("__base"))
        )
        return agg.select(*pc, "id", *carry, ratio.alias(column_name))
    agg = (
        qualifying.groupBy(*pc, "id")
        .agg(deepest.alias("__base"))
    )
    out = df.join(agg, on=[*pc, "id"], how="left")
    return out.withColumn(
        column_name,
        # try_divide: zero-valued ancestors yield NULL, not an ANSI error
        # (the reference would raise ZeroDivisionError here)
        F.try_divide(F.col(base_column).cast("double"),
                     F.col("__base").cast("double")),
    ).drop("__base")


# ---------------------------------------------------------------------------
# hot path (reference hot_path, :403-428)
# ---------------------------------------------------------------------------

def hot_path(
    df: DataFrame,
    base_column: str,
    callpath: Sequence[int] = (),
    threshold: float = 0.05,
    callpath_col: str = "callpath",
    max_iters: int = 64,
    collect_threshold: int = 100_000,
) -> DataFrame:
    """Greedy hottest-descendant chain.

    Reference semantics (hpctoolkit_dataframe.py:403-428): starting from
    ``callpath``, repeatedly append the current path, descend to the
    child with the max ``base_column`` value, and stop when there are no
    children or the hottest child's value drops below ``threshold`` (the
    below-threshold child is NOT included; the starting path always is).

    Spark plan: one slim projection (value, id, depth, parent-prefix
    test) cached once; each descent step is a tiny ``max_by`` aggregate
    over the current node's children.  The loop runs at most tree-depth
    times (<= ~25 in fixtures) and each job is a narrow filter+agg on the
    cached slim frame, so driver orchestration cost is bounded and no
    full collect ever happens.  Ties break on smallest id (the reference
    takes the first row in DFS preorder via ``idxmax``; by-id is the
    deterministic analogue).
    """
    slim = df.select(
        F.col("id").alias("__id"),
        F.col(callpath_col).alias("__path"),
        F.col(base_column).cast("double").alias("__value"),
    )
    current = tuple(int(x) for x in callpath)
    chain: list[tuple[int, ...]] = []
    # probe with ONE job: limit(threshold+1) returns the whole frame iff
    # it fits (and only then do we trust the rows), so the small-tree
    # case costs a single action instead of count()+collect()
    probe = slim.limit(collect_threshold + 1).collect()
    if len(probe) <= collect_threshold:
        # small tree (one profile is ~10^4 nodes): the 3-column
        # projection is already in memory and the descent runs locally —
        # tree-depth Spark jobs collapse into one
        by_parent: dict[tuple, list] = {}
        for r in probe:
            p = tuple(r["__path"])
            by_parent.setdefault(p[:-1] if p else None, []).append(
                (r["__value"], r["__id"], p))
        for _ in range(max_iters):
            chain.append(current)
            children = [c for c in by_parent.get(current, ())
                        if len(c[2]) == len(current) + 1]
            if not children:
                break
            value, _, path = max(
                children, key=lambda c: (c[0] if c[0] is not None
                                         else float("-inf"), -c[1]))
            if value is None or value < threshold:
                break
            current = path
        preds = None
        for p in chain:
            pred = ((F.size(callpath_col) == len(p))
                    & cp.has_prefix(p, callpath_col))
            preds = pred if preds is None else (preds | pred)
        return df.filter(preds)
    del probe  # arbitrary subset — unusable; descend iteratively
    slim = slim.cache()
    try:
        for _ in range(max_iters):
            chain.append(current)
            children = slim.filter(
                (F.size("__path") == len(current) + 1)
                & cp.has_prefix(current, "__path")
            )
            top = children.orderBy(
                F.col("__value").desc(), F.col("__id").asc()
            ).limit(1).collect()
            if not top:
                break
            row = top[0]
            if row["__value"] is None or row["__value"] < threshold:
                break
            current = tuple(row["__path"])
        preds = None
        for p in chain:
            pred = (F.size(callpath_col) == len(p)) & cp.has_prefix(p, callpath_col)
            preds = pred if preds is None else (preds | pred)
        return df.filter(preds)
    finally:
        slim.unpersist()


def hot_paths(
    df: DataFrame,
    base_column: str,
    partition_cols: Sequence[str] = (),
    threshold: float = 0.05,
    callpath_col: str = "callpath",
    max_depth: int = 64,
) -> DataFrame:
    """Greedy hot-path chains for EVERY profile in one batch job set —
    the fleet-scale variant of :func:`hot_path` (same per-profile
    semantics, reference hpctoolkit_dataframe.py:403-428) with no
    per-profile driver loop.

    Plan (r12): materialize the qualifying rank-1 edges once (one
    window; a node qualifies iff it is its parent's hottest child AND
    clears the threshold — a SMALL set, bounded by how many nodes can
    hold >= threshold of the root), then decide chain membership in
    ONE pass: a node is on its profile's chain iff EVERY element of
    its callpath is a qualifying edge (induction on the greedy
    descent: depth-1 nodes descend from the root iff they qualify;
    a deeper node is reached iff its parent was reached and it
    qualifies).  The former shape descended level-by-level with an
    eager localCheckpoint + isEmpty driver round trip per depth —
    ~2 jobs x tree depth of pure scheduling over frontiers of <= one
    row per profile; this is a fixed 3-stage plan at any depth.
    Output: the chain rows (full input columns), unchanged.
    """
    pc = list(partition_cols)
    slim = df.select(
        *pc, F.col("id").alias("__id"),
        F.col(callpath_col).alias("__path"),
        F.col(base_column).cast("double").alias("__v"),
    ).withColumn("__depth", F.size("__path"))
    parent = F.when(F.size(cp.parent_path("__path")) > 0,
                    F.element_at(cp.parent_path("__path"), -1)).otherwise(-1)
    w = Window.partitionBy(*pc, parent.alias("__parent")).orderBy(
        F.col("__v").desc(), F.col("__id").asc())
    edges = (
        slim.filter((F.col("__depth") > 0)
                    & (F.col("__depth") <= max_depth))
        .withColumn("__rk", F.row_number().over(w))
        .filter((F.col("__rk") == 1) & (F.col("__v") >= threshold))
        .select(*pc, "__id", "__path", "__depth")
    )
    # small (see above) and referenced by BOTH sides of the ancestor
    # self-join below — relation dedup does not share work across
    # self-joins (CLAUDE.md), so materialize once
    edges = edges.localCheckpoint(eager=True)

    # ancestor check: explode each candidate's path (<= depth rows per
    # qualifying node) and count how many path elements qualify; the
    # node is on the chain iff all of them do.  Path ids are unique
    # (tree path) and __id is unique per profile, so the join adds no
    # multiplicity.
    anc = edges.select(*pc, "__id", "__depth",
                       F.explode("__path").alias("__anc"))
    sids = edges.select(*pc, F.col("__id").alias("__anc"))
    on_chain = (
        anc.join(sids, [*pc, "__anc"], "inner")
        .groupBy(*pc, "__id", "__depth")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == F.col("__depth"))
        .select(*pc, "__id")
    )
    roots = slim.filter(F.col("__depth") == 0).select(*pc, "__id")
    keys = roots.unionAll(on_chain).select(
        *pc, F.col("__id").alias("id"))
    return df.join(keys, on=[*pc, "id"], how="left_semi")


def hot_edges(
    df: DataFrame,
    base_column: str,
    partition_cols: Sequence[str] = (),
    parent_id_col: str | None = None,
    callpath_col: str = "callpath",
) -> DataFrame:
    """Rank-1 child per parent — the one-job building block for computing
    hot paths over MANY profiles at once (no driver loop per profile).

    Returns df's columns plus ``__rank`` = 1 for the hottest child of each
    parent (ties by id).  A driver- or SQL-side recursive walk over these
    edges yields the same chain as :func:`hot_path`.
    """
    parent = (
        F.col(parent_id_col)
        if parent_id_col
        # ANSI-safe: element_at on an empty array (the root) would throw
        else F.when(
            F.size(cp.parent_path(callpath_col)) > 0,
            F.element_at(cp.parent_path(callpath_col), -1),
        )
    )
    w = Window.partitionBy(*partition_cols, parent.alias("__parent")).orderBy(
        F.col(base_column).desc(), F.col("id").asc()
    )
    return df.withColumn("__rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# compact projection (reference :387-389)
# ---------------------------------------------------------------------------

def compact(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Select the 'meaningful' columns (reference compact, :387-389)."""
    return df.select(*columns)


# ---------------------------------------------------------------------------
# multi-profile merge (engine extension; combine formulas, SURVEY §2.4 A1)
# ---------------------------------------------------------------------------

def merge_profiles(
    df: DataFrame,
    metric_combines: dict[str, str],
    callpath_col: str = "callpath",
    location_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge many profiles into one aggregate CCT.

    ``metric_combines`` maps metric column name -> 'sum' | 'min' | 'max'
    (from the MetricTable's combine formulas, which the reference parses
    but never uses, hpctoolkit_dataframe.py:69-70 — it is strictly
    single-profile).  Nodes are identified by their callpath; location
    columns are invariant per callpath, so they ride as EXTRA GROUP
    KEYS (r13): an ``any_value``/``first`` aggregate holds a var-width
    buffer for string columns, which is not hash-aggregable and forced
    the whole merge into a SortAggregate — sorting every profile row by
    callpath twice (partial + final).  As group keys they cost nothing
    (same groups under the invariance contract) and the merge plans as
    a codegen HashAggregate; determinism improves too (no arbitrary
    pick).  One shuffle, hashed on the callpath AND the location
    columns; aggregation is partial map-side.  Nothing checks the
    invariance contract: a callpath whose profiles disagree on a
    location column comes out as one row per distinct location tuple
    (duplicate callpath rows), not as one row with an arbitrary pick.
    """
    aggs = []
    for metric, kind in metric_combines.items():
        fn = {"sum": F.sum, "min": F.min, "max": F.max}[kind]
        aggs.append(fn(F.col(f"`{metric}`")).alias(metric))
    aggs.append(F.count(F.lit(1)).alias("n_profiles"))
    return df.groupBy(callpath_col,
                      *[F.col(f"`{c}`") for c in location_cols]).agg(*aggs)
