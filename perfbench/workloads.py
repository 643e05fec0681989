"""The benchmark's workloads.

Each workload generates its inputs from the seed when constructed (no
Spark), prepares what it needs once in ``setup`` (untimed), then runs
passes in a closed loop: one client thread, each operation started
after the previous one finished.  An operation is a call into the
package plus the first action on what it returned: a write to Spark's
``noop`` sink, which computes every column of every row and keeps
nothing, unless the package collects the result itself.  Its output is
checked after its timer stops, by a separate action whose answers are
compared with ones computed in plain Python or by DuckDB.  An operation
fails when it raises or its check fails.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
import xml.etree.ElementTree as ET
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from . import tpchgen, xmlgen

SUM_I = xmlgen.NAME[xmlgen.SUM_I]
SUM_E = xmlgen.NAME[xmlgen.SUM_E]
PCT = xmlgen.PCT
RATIO_TOTAL = PCT + " ratio of total"
RATIO_PARENT = PCT + " ratio of parent"
CHECK_THREADS = 4
LOCATION = ["id", "type", "module path", "module", "file path", "file",
            "line", "procedure"]
# the cct_* registry entries the tpch workload runs: all but the three
# that read the XML fixtures (cct_xml_ingest, cct_flat_profile,
# cct_callers_view)
CCT_ENTRIES = (
    "cct_at_depth_3", "cct_depth_range_2_3", "cct_diff_returnflag",
    "cct_flame_diff", "cct_flame_widths", "cct_fragment_filter",
    "cct_hot_path", "cct_hot_path_batch", "cct_hot_regions",
    "cct_hottest_child_per_parent", "cct_merge_profiles", "cct_nodes",
    "cct_prefix_subtree", "cct_ratio_of_parent",
    "cct_ratio_of_parent_walkup", "cct_ratio_of_total", "cct_sample_by_hash",
    "cct_stride_sample", "cct_suffix_filter",
)


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    error: str | None = None
    ok: bool | None = None
    detail: str = ""

    @property
    def failed(self) -> bool:
        return self.error is not None or self.ok is False


class Run:
    """Times operations, records their checks and the pass durations."""

    def __init__(self, spark, tracer, pkg, seconds: float,
                 fail_check: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.pkg = pkg
        self.seconds = seconds
        self.fail_check = fail_check
        self.ops: list[Op] = []
        self.passes: list[tuple[float, bool]] = []  # (seconds, traced)

    def op(self, name: str, fn):
        op = Op(name)
        self.ops.append(op)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench.op.{name}"):
                value = fn()
        except Exception as e:  # an operation failing is a measured outcome
            op.error = f"{type(e).__name__}: {e}"[:400]
            value = None
        op.seconds = time.perf_counter() - t0
        return op, value

    def op_df(self, name: str, span: str, fn):
        """Operation ``name``: ``fn`` returns a DataFrame (or a frame
        wrapping one in ``.df``), which is materialized inside ``span``.
        Returns the op and the DataFrame."""
        def go():
            out = fn()
            df = out.df if hasattr(out, "df") else out
            with self.exec_span(span):
                materialize(df)
            return df

        return self.op(name, go)

    def verify(self, op: Op, fn):
        """Collect an operation's check data, untimed.  A check that
        raises fails the operation."""
        if op.error is not None:
            return None
        try:
            return fn()
        except Exception as e:
            op.error = f"check: {type(e).__name__}: {e}"[:400]
            return None

    def check(self, op: Op, ok: bool, detail: str = "") -> None:
        if op.error is not None:
            return
        if self.fail_check:  # --fail-check: exercise the failure path
            self.fail_check = False
            ok, detail = False, "deliberately failed check (--fail-check)"
        op.ok = bool(ok)
        op.detail = detail

    def exec_span(self, fn_name: str):
        return self.tracer.span(f"{fn_name}.exec")

    def loop(self, workload, min_passes: int) -> None:
        """Run at least ``min_passes`` passes, and more until ``seconds``
        of operation time have gone by.  A traced run alternates
        untraced and traced passes, starting untraced."""
        measured = 0.0
        k = 0
        while k < min_passes or measured < self.seconds:
            traced = self.tracer.enabled and k % 2 == 1
            self.tracer.active = traced
            first = len(self.ops)
            with self.tracer.span("bench.pass"):
                workload.run_pass(self, k)
            # a pass's duration is its operations' time: checks and
            # answer-building between operations are not timed
            dt = sum(op.seconds for op in self.ops[first:])
            self.passes.append((dt, traced))
            measured += dt
            k += 1
        self.tracer.active = False


def materialize(df) -> None:
    """An operation's timed action: compute every column of every row
    and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def summarize(df, sample=None, cols=()):
    """Check data of ``df`` in one action: the row count, the sum of
    ``id`` (when present) and the ``cols`` of rows matching ``sample``."""
    from pyspark.sql import functions as F

    def q(c):
        return F.col(f"`{c}`") if isinstance(c, str) else c

    aggs = [F.count(F.lit(1)).alias("n")]
    if "id" in df.columns:
        aggs.append(F.sum("id").alias("idsum"))
    if sample is not None:
        aggs.append(F.collect_list(
            F.when(sample, F.struct(*[q(c) for c in cols]))).alias("s"))
    row = df.agg(*aggs).collect()[0]
    rows = ([tuple(r) for r in row["s"]] if sample is not None else None)
    return row["n"], (row["idsum"] if "id" in df.columns else None), rows


def close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)


def layout_matches(got: list[dict], want: list[tuple]) -> tuple[bool, str]:
    g = {d["id"]: (d["depth"], d["width"], d["offset"]) for d in got}
    w = {i: (d, wd, o) for i, d, wd, o in want}
    if g.keys() != w.keys():
        return False, f"segments {len(g)} != {len(w)}"
    bad = [i for i in w if g[i][0] != w[i][0] or not close(g[i][1], w[i][1])
           or not close(g[i][2], w[i][2])]
    return not bad, f"{len(w)} segments" + (f", {len(bad)} differ" if bad else "")


class Fleet:
    """fleet_ingest_merge: many runs of one program, ingested, stored,
    merged and summarized."""

    name = "fleet_ingest_merge"
    N_FILES = 16
    N_NODES = 3300  # skeleton nodes, ~2.5k after call sites are spliced
    FLAME_DEPTH = 6

    def __init__(self, inputs: str, seed: int):
        self.sk = sk = xmlgen.Skeleton(seed, self.N_NODES)
        self.dir = os.path.join(inputs, "fleet")
        os.makedirs(self.dir)
        self.profiles = [xmlgen.Profile(sk, seed, i) for i in range(self.N_FILES)]
        self.paths = []
        self.xml_bytes = 0
        for pr in self.profiles:
            p = os.path.join(self.dir, f"prof_{pr.index:03d}.xml")
            data = pr.xml()
            with open(p, "wb") as f:
                f.write(data)
            self.paths.append(p)
            self.xml_bytes += len(data)
        self.glob = os.path.join(self.dir, "*.xml")
        self.out = os.path.join(inputs, "profiles")
        self.rows = self.N_FILES * (len(sk.loaded) + 1)
        rng = random.Random(f"fleet-sample:{seed}")
        self.sample = [(rng.randrange(self.N_FILES), rng.choice(sk.loaded))
                       for _ in range(8)]
        self.chains = {(self.paths[pr.index], x)
                       for pr in self.profiles for x in pr.hot_chain(0.05)}
        sum_i, sum_e, mins, maxs, root = xmlgen.merged_values(self.profiles)
        self.merged_root = root
        self.merged_sample = {sk.xid[k]: (float(sum_i[k]), None if sum_e[k] is None
                                          else float(sum_e[k]), float(mins[k]),
                                          float(maxs[k]))
                              for k in rng.sample(sk.loaded, 8)}
        root_i = float(root[0])
        self.merged_chain = xmlgen.greedy_chain(
            sk, lambda k: float(sum_i[k]) / root_i, 0.05)
        self.flame = xmlgen.flame_layout(sk, lambda k: float(sum_i[k]), (),
                                         self.FLAME_DEPTH)

    def setup(self, run: Run) -> None:
        """Combine kinds from the MetricTable of the first file."""
        formulas = run.pkg.functions.formulas
        table = ET.parse(self.paths[0]).getroot().find(
            "./SecCallPathProfile/SecHeader/MetricTable")
        self.combines = {}
        for m in table:
            for frm in m.findall("./MetricFormula"):
                if frm.attrib.get("t") == "combine":
                    kind, _ = formulas.parse_combine_formula(frm.attrib["frm"])
                    self.combines[m.attrib["n"]] = kind

    def run_pass(self, run: Run, k: int) -> None:
        from pyspark.sql import functions as F

        pkg, spark, tracer = run.pkg, run.spark, run.tracer
        xml = pkg.sources.hpctoolkit_xml
        cct = pkg.operators.cct
        sinks = pkg.sources.sinks
        flame = pkg.operators.flame

        load_op, df = run.op_df(
            "load_experiments", "sources.hpctoolkit_xml.load_experiments",
            lambda: xml.load_experiments(spark, self.glob)[0])
        if df is None:
            return
        tracer.count("sources.hpctoolkit_xml.rows", self.rows)
        tracer.count("sources.hpctoolkit_xml.xml_bytes", self.xml_bytes)
        out = f"{self.out}{k}"
        op, _ = run.op("write_profiles",
                       lambda: sinks.write_profiles(df, out))
        if op.error is None:
            files = nbytes = 0
            parts = 0
            for dirpath, _, names in os.walk(out):
                parts += os.path.basename(dirpath).startswith("profile_id=")
                for nm in names:
                    if nm.startswith("part-"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, nm))
            tracer.count("sources.sinks.write_profiles.bytes", nbytes)
            tracer.count("sources.sinks.write_profiles.files", files)
            run.check(op, parts == self.N_FILES,
                      f"{parts}/{self.N_FILES} profile partitions")

        op, df2 = run.op_df("read_profiles", "sources.sinks.read_profiles",
                            lambda: sinks.read_profiles(spark, out))
        # the parsed profiles are checked in the parquet copy that
        # write_profiles made of them, which saves a second parse
        keys = [f"{self.paths[i]}#{self.sk.xid[n]}" for i, n in self.sample]
        pick = F.concat_ws("#", "profile_id", F.col("id").cast("string")).isin(keys)
        got = run.verify(op, lambda: summarize(
            df2, pick, ["profile_id", "id", RATIO_TOTAL, RATIO_PARENT]))
        if got is None:
            return
        n, _, rows = got
        run.check(op, n == self.rows, f"rows {n}/{self.rows}")
        want = {}
        for i, node in self.sample:
            pr = self.profiles[i]
            want[(self.paths[i], self.sk.xid[node])] = (
                pr.ratio_of_total(node), pr.ratio_of_parent(node))
        have = {(r[0], r[1]): (r[2], r[3]) for r in rows}
        run.check(load_op, n == self.rows and have == want,
                  f"rows {n}/{self.rows}, sampled ratios "
                  f"{'match' if have == want else 'differ'}")

        sample_ids = list(self.merged_sample) + [-1]
        op, merged = run.op_df(
            "merge_profiles", "operators.cct.merge_profiles",
            lambda: cct.merge_profiles(df2, self.combines,
                                       location_cols=LOCATION))
        got = run.verify(op, lambda: summarize(
            merged, F.col("id").isin(sample_ids),
            ["id", SUM_I, SUM_E, xmlgen.NAME[xmlgen.MIN_I],
             xmlgen.NAME[xmlgen.MAX_I], "n_profiles"]))
        if got is not None:
            n, _, rows = got
            have = {r[0]: r[1:] for r in rows}
            want = {x: (*v, self.N_FILES) for x, v in self.merged_sample.items()}
            want[-1] = (*(float(v) for v in self.merged_root), self.N_FILES)
            n_want = len(self.sk.loaded) + 1
            run.check(op, n == n_want and have == want,
                      f"nodes {n}/{n_want}, root and sampled totals "
                      f"{'match' if have == want else 'differ'}")

        op, chains = run.op_df(
            "hot_paths", "operators.cct.hot_paths",
            lambda: cct.hot_paths(df2, RATIO_TOTAL, ["profile_id"],
                                  threshold=0.05))
        got = run.verify(op, lambda: chains.select("profile_id", "id").collect())
        if got is not None:
            have = {tuple(r) for r in got}
            run.check(op, len(got) == len(have) == len(self.chains)
                      and have == self.chains,
                      f"{len(got)}/{len(self.chains)} chain rows")
        if merged is None:
            return

        op, chain = run.op_df(
            "hot_path_merged", "operators.cct.hot_path",
            lambda: cct.hot_path(
                cct.with_ratio_of_total(merged, SUM_I, "merged share"),
                "merged share", threshold=0.05))
        got = run.verify(op, lambda: chain.select(
            "id", F.size("callpath")).collect())
        if got is not None:
            have = [i for i, _ in sorted(got, key=lambda r: r[1])]
            run.check(op, have == self.merged_chain,
                      f"chain of {len(have)}, expected {len(self.merged_chain)}")
        op, got = run.op("flame_layout_merged", lambda: flame.flame_layout(
            merged, SUM_I, max_depth=self.FLAME_DEPTH))
        if got is not None:
            run.check(op, *layout_matches(got, self.flame))
        shutil.rmtree(out, ignore_errors=True)

    def rows_per_pass(self) -> int:
        return self.rows


class Interactive:
    """profile_interactive: an analyst's loop over one cached profile."""

    name = "profile_interactive"
    N_NODES = 20000  # skeleton nodes, ~15k after call sites are spliced
    OPS = ("at_paths_prefix", "at_paths_suffix", "at_depth", "at_depths",
           "ratio_total", "ratio_parent", "hot_path", "hot_path_strict",
           "compact", "flat_profile", "callers_view", "flame_layout")

    def __init__(self, inputs: str, seed: int):
        self.seed = seed
        self.sk = sk = xmlgen.Skeleton(seed, self.N_NODES, n_procs=1500)
        self.pr = pr = xmlgen.Profile(sk, seed, 0)
        self.path = os.path.join(inputs, "profile.xml")
        with open(self.path, "wb") as f:
            f.write(pr.xml())
        self.rows = len(sk.loaded) + 1
        self.deep = [k for k in sk.loaded if len(sk.path[k]) >= 2]
        self.max_depth = max(len(p) for p in sk.path.values())
        has_kids = set(sk.lparent)
        self.flame_roots = [k for k in sk.loaded
                            if k in has_kids and 1 <= len(sk.path[k]) <= 3]
        # flat profile and callers view answers: sums of Sum (E)
        flat: dict = {}
        edges: dict = {}
        for k in [-1] + sk.loaded:
            e = pr.root_inc if k < 0 else (pr.exc[k] or None)
            proc = None if k < 0 else sk.procedure(k)
            depth = 0 if k < 0 else len(sk.path[k])
            lp = None if k < 0 else sk.lparent[k]
            caller = sk.procedure(lp) if lp is not None and lp >= 0 else None
            for table, key in ((flat, proc), (edges, (caller, proc))):
                n, s, d = table.get(key, (0, None, 0))
                s = s if e is None else (s or 0) + e
                table[key] = (n + 1, s, max(d, depth))
        self.flat, self.edges = flat, edges

    def setup(self, run: Run) -> None:
        """Load the profile once (driver fast path) and cache it."""
        h = run.pkg.HPCtoolkitDataFrame(path=self.path, spark=run.spark)
        self.h = h.cache()
        n = self.h.count()
        if n != self.rows:
            raise RuntimeError(f"profile loaded {n} rows, expected {self.rows}")

    def _ids(self, keep) -> tuple[int, int]:
        ids = [self.sk.xid[k] for k in self.sk.loaded if keep(self.sk.path[k])]
        return len(ids), sum(ids)

    def run_pass(self, run: Run, k: int) -> None:
        rng = random.Random(f"interactive:{self.seed}:{k}")
        for name in self.OPS:
            getattr(self, "op_" + name)(run, rng)

    def _filter_op(self, run, name, layer, fn, want):
        op, df = run.op_df(name, layer, fn)
        got = run.verify(op, lambda: summarize(df))
        if got is not None:
            run.check(op, (got[0], got[1]) == want,
                      f"rows/idsum {got[:2]} expected {want}")

    def op_at_paths_prefix(self, run, rng):
        prefix = self.sk.path[rng.choice(self.deep)][:2]
        want = self._ids(lambda p: p[:len(prefix)] == prefix)
        self._filter_op(run, "at_paths_prefix", "operators.cct.at_paths",
                        lambda: self.h.at_paths(prefix=prefix), want)

    def op_at_paths_suffix(self, run, rng):
        node = rng.choice(self.deep)
        suffix = self.sk.path[node][-2:]
        want = self._ids(lambda p: p[-2:] == suffix)
        self._filter_op(run, "at_paths_suffix", "operators.cct.at_paths",
                        lambda: self.h.at_paths(suffix=suffix), want)

    def op_at_depth(self, run, rng):
        d = rng.randint(1, self.max_depth)
        want = self._ids(lambda p: len(p) == d)
        self._filter_op(run, "at_depth", "operators.cct.at_depths",
                        lambda: self.h.at_depth(d), want)

    def op_at_depths(self, run, rng):
        lo = rng.randint(1, self.max_depth)
        hi = lo + rng.randint(0, 3)
        want = self._ids(lambda p: lo <= len(p) <= hi)
        self._filter_op(run, "at_depths", "operators.cct.at_depths",
                        lambda: self.h.at_depths(lo, hi), want)

    def _ratio_op(self, run, rng, method, expect):
        from pyspark.sql import functions as F

        col = f"{SUM_I} {method} share"
        nodes = rng.sample(self.sk.loaded, 6)
        ids = [self.sk.xid[n] for n in nodes] + [-1]

        op, df = run.op_df(
            f"ratio_{method}", f"operators.cct.with_ratio_of_{method}",
            lambda: self.h.add_ratio_column(SUM_I, col, method))
        got = run.verify(op, lambda: summarize(df, F.col("id").isin(ids),
                                               ["id", col]))
        if got is not None:
            want = {self.sk.xid[n]: expect(n) for n in nodes}
            want[-1] = 1.0
            have = dict(got[2])
            run.check(op, got[0] == self.rows and have == want,
                      f"rows {got[0]}, sampled ratios "
                      f"{'match' if have == want else 'differ'}")

    def op_ratio_total(self, run, rng):
        pr = self.pr
        self._ratio_op(run, rng, "total",
                       lambda n: float(pr.inc[n]) / float(pr.root_inc))

    def op_ratio_parent(self, run, rng):
        pr, sk = self.pr, self.sk

        def parent_share(n):
            lp = sk.lparent[n]
            base = float(pr.root_inc if lp < 0 else pr.inc[lp])
            return float(pr.inc[n]) / base if base else None

        self._ratio_op(run, rng, "parent", parent_share)

    def op_hot_path(self, run, rng, name="hot_path", t=0.05):
        from pyspark.sql import functions as F

        op, df = run.op_df(name, "operators.cct.hot_path",
                             lambda: self.h.hot_path(threshold=t))
        got = run.verify(op, lambda: df.select(
            "id", F.size("callpath")).collect())
        if got is not None:
            have = [i for i, _ in sorted(got, key=lambda r: r[1])]
            want = self.pr.hot_chain(t)
            run.check(op, have == want,
                      f"threshold {t}: chain of {len(have)}, expected {len(want)}")

    def op_hot_path_strict(self, run, rng):
        self.op_hot_path(run, rng, "hot_path_strict", 0.5)

    def op_compact(self, run, rng):
        cct = run.pkg.operators.cct
        cols = [c for c in self.h.metadata.meaningful_columns["compact"]
                if c in self.h.df.columns]

        op, df = run.op_df("compact", "operators.cct.compact",
                             lambda: cct.compact(self.h.df, cols))
        got = run.verify(op, lambda: summarize(df))
        if got is not None:
            want = [PCT, RATIO_TOTAL, RATIO_PARENT, "module", "file", "line",
                    "procedure", "type"]
            run.check(op, df.columns == want and got[0] == self.rows,
                      f"{len(df.columns)} columns, {got[0]} rows")

    def _grouped_op(self, run, rng, name, fn, key_cols, table):
        from pyspark.sql import functions as F

        keys = rng.sample(sorted(k for k in table if None not in
                                 (k if isinstance(k, tuple) else (k,))), 4)
        pred = None
        for key in keys:
            key = key if isinstance(key, tuple) else (key,)
            cond = None
            for c, v in zip(key_cols, key):
                term = F.col(c) == v
                cond = term if cond is None else cond & term
            pred = cond if pred is None else pred | cond

        op, df = run.op_df(name, f"frame.{name}", fn)
        got = run.verify(op, lambda: summarize(df, pred, df.columns))
        if got is not None:
            nk = len(key_cols)
            have = {(r[:nk] if nk > 1 else r[0]): r[nk:] for r in got[2]}
            want = {}
            for key in keys:
                n, s, d = table[key]
                want[key] = (n, None if s is None else float(s)) + (
                    (d,) if name == "flat_profile" else ())
            run.check(op, got[0] == len(table) and have == want,
                      f"groups {got[0]}/{len(table)}, sampled sums "
                      f"{'match' if have == want else 'differ'}")

    def op_flat_profile(self, run, rng):
        self._grouped_op(run, rng, "flat_profile", lambda: self.h.flat_profile(),
                         ["procedure"], self.flat)

    def op_callers_view(self, run, rng):
        self._grouped_op(run, rng, "callers_view", lambda: self.h.callers_view(),
                         ["caller", "callee"], self.edges)

    def op_flame_layout(self, run, rng):
        flame = run.pkg.operators.flame
        sk = self.sk
        node = rng.choice(self.flame_roots)
        prefix = sk.path[node]
        max_depth = len(prefix) + 4
        op, got = run.op("flame_layout", lambda: flame.flame_layout(
            self.h.df, SUM_I, prefix=prefix, max_depth=max_depth))
        if got is not None:
            pr = self.pr
            want = xmlgen.flame_layout(sk, lambda k: float(pr.inc[k]), prefix,
                                       max_depth)
            run.check(op, *layout_matches(got, want))

    def rows_per_pass(self) -> int:
        return self.rows * len(self.OPS)


class Registry:
    """tpch_cct_registry: the CCT registry entries over TPC-H-like
    tables.  Each pass reads a fresh copy of the tables, so its first
    ``build_cct`` misses the memo and its last one hits."""

    name = "tpch_cct_registry"
    N_ORDERS = 3000

    def __init__(self, inputs: str, seed: int):
        self.inputs = inputs
        self.base = os.path.join(inputs, "tpch")
        self.counts = tpchgen.write_tables(self.base, seed, self.N_ORDERS)

    def setup(self, run: Run) -> None:
        """DuckDB digests of every entry's oracle SQL, once per input."""
        import duckdb

        oh = run.pkg.oracle_hash
        registry = run.pkg.queries.REGISTRY
        con = duckdb.connect()
        spill = os.path.join(self.inputs, "duckdb")
        os.makedirs(spill)
        con.execute(f"SET temp_directory='{spill}'")
        con.execute("SET memory_limit='1GB'")
        for t in self.counts:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.base, t)}.parquet'")
        self.oracle = {}
        for name in CCT_ENTRIES:
            res = con.execute(registry[name].sql)
            cols = sorted(d[0] for d in res.description)
            self.oracle[name] = (cols, oh.duckdb_digest(res, cols))
        con.close()

    def run_pass(self, run: Run, k: int) -> None:
        pkg, spark, tracer = run.pkg, run.spark, run.tracer
        cct_tpch = pkg.queries.cct_tpch
        registry = pkg.queries.REGISTRY
        oh = pkg.oracle_hash
        d = self.base
        if k:
            d = os.path.join(self.inputs, f"tpch_pass{k}")
            shutil.copytree(self.base, d)
        key = (pkg.queries.session_key(spark), d)
        op, tree = run.op("build_cct_miss", lambda: cct_tpch.build_cct(spark, d))
        tracer.count("queries.cct_tpch.build_cct.miss_s", op.seconds)
        n = run.verify(op, tree.count) if tree is not None else None
        if n is not None:
            want = self.oracle["cct_nodes"][1][0]
            run.check(op, cct_tpch._CCT_CACHE.get(key) is tree and n == want,
                      f"memoized tree of {n}/{want} nodes")
        ran = []
        for name in CCT_ENTRIES:
            op, _ = run.op_df(name, f"queries.{name}",
                              lambda name=name: registry[name].fn(spark, d))
            ran.append((name, op))
        # each check re-runs its entry and digests the Arrow result with
        # the package's canonicalizer; checks may overlap
        def digest(name):
            cols = self.oracle[name][0]
            table = registry[name].fn(spark, d).select(*cols).toArrow()
            return oh.fold(oh.batch_digest(b, cols)
                           for b in table.to_batches())

        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            futures = [(name, op, pool.submit(digest, name))
                       for name, op in ran if op.error is None]
            for name, op, fut in futures:
                have = run.verify(op, fut.result)
                if have is None:
                    continue
                want = self.oracle[name][1]
                run.check(op, have == want,
                          f"{have[0]} rows, digest "
                          f"{'matches' if have == want else 'differs from'}"
                          " the DuckDB oracle")
        op, again = run.op("build_cct_hit", lambda: cct_tpch.build_cct(spark, d))
        tracer.count("queries.cct_tpch.build_cct.hit_s", op.seconds)
        if again is not None:
            run.check(op, again is tree, "memo hit returned the built tree")

    def rows_per_pass(self) -> int:
        return self.counts["lineitem"]


WORKLOADS = {w.name: w for w in (Fleet, Interactive, Registry)}
