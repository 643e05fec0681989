"""Seeded synthetic HPCToolkit experiment XML, with pure-Python answers.

One ``Skeleton`` is the static calling-context tree of a program: a
random tree of procedure frames (PF), loops (L), statements (S) and
call sites (C, each wrapping the callee's PF), plus its LoadModule,
File and Procedure tables.  A fleet is the same program run many times:
every profile shares the skeleton and draws its own metric values.

Metric model (``METRICS``): raw inclusive/exclusive sums, min/max and a
per-profile source count, finalize formulas referencing ``$N`` (means
are ``sum / sources``) and ``combine`` formulas for merging.  Inclusive
values are consistent: a node's I is its E plus the sum of its
children's I.  Call sites carry E = 0, so the tree the loader builds
(call sites spliced out) stays consistent too.  Exclusive values of 0
are omitted from the XML, as HPCToolkit does, and load as NULL.

``Profile`` holds one run's values and computes, in plain Python, what
the engine must return: row counts, ratio columns, greedy hot-path
chains, flame layouts and merged-tree totals.  The same seed gives the
same bytes.
"""

from __future__ import annotations

import math
import random

SUM_I, SUM_E, MEAN_I, MEAN_E, MIN_I, MAX_I, SOURCES = 2, 3, 4, 5, 6, 7, 8
PREFIX = "CPUTIME (usec)"
METRICS = [  # (id, name, type, finalize, combine)
    (SUM_I, f"{PREFIX}:Sum (I)", "inclusive", "$2", "sum($2, $2)"),
    (SUM_E, f"{PREFIX}:Sum (E)", "exclusive", "$3", "sum($3, $3)"),
    (MEAN_I, f"{PREFIX}:Mean (I)", "inclusive", "$2 / $8", None),
    (MEAN_E, f"{PREFIX}:Mean (E)", "exclusive", "$3 / $8", None),
    (MIN_I, f"{PREFIX}:Min (I)", "inclusive", "$6", "min($6, $6)"),
    (MAX_I, f"{PREFIX}:Max (I)", "inclusive", "$7", "max($7, $7)"),
    (SOURCES, f"{PREFIX}:Sources", "inclusive", None, None),
]
NAME = {mid: name for mid, name, *_ in METRICS}
PCT = NAME[MEAN_I]  # the column the loader elects as the percentage


class Skeleton:
    """The shared static tree.  Node k has ``tag[k]``, ``parent[k]`` (-1
    for top-level frames) and XML id ``xid[k]``; ``lparent[k]`` is the
    parent in the loaded tree (call sites spliced out, -1 = root)."""

    def __init__(self, seed: int, n_nodes: int, n_procs: int = 400,
                 n_files: int = 60, n_modules: int = 8,
                 max_depth: int = 48, n_spines: int = 2):
        rng = random.Random(f"skeleton:{seed}:{n_nodes}")
        self.modules = [f"/usr/app/lib/libmod{i}.so" for i in range(n_modules)]
        self.files = [f"./src/mod{i % n_modules}/unit{i}.c"
                      for i in range(n_files)]
        self.procs = [f"kernel_{i:04d}" for i in range(n_procs)]
        tag, parent, depth, attrs = [], [], [], []
        children: list[list[int]] = []

        def add(t: str, p: int) -> int:
            k = len(tag)
            tag.append(t)
            parent.append(p)
            depth.append(0 if p < 0 else depth[p] + 1)
            children.append([])
            if p >= 0:
                children[p].append(k)
            a = {"s": rng.randrange(1, 1 << 20), "l": rng.randrange(1, 5000)}
            if t == "PF":
                a["lm"] = rng.randrange(n_modules)
                a["f"] = rng.randrange(n_files)
                a["n"] = rng.randrange(n_procs)
            attrs.append(a)
            return k

        containers = [add("PF", -1) for _ in range(3)]
        recent = list(containers)
        while len(tag) < n_nodes:
            # half the time grow one of the newest containers: this
            # makes long call chains, as real programs have
            pool = recent if rng.random() < 0.5 else containers
            p = pool[rng.randrange(len(pool))]
            r = rng.random()
            if depth[p] >= max_depth or r < 0.45:
                add("S", p)
                continue
            if r < 0.70:
                k = add("L", p)
            else:
                k = add("PF", add("C", p))
            containers.append(k)
            recent = (recent + [k])[-8:]
        n = len(tag)
        # XML ids in document (preorder) order, starting at 2
        order: list[int] = []
        stack = [k for k in range(n) if parent[k] < 0][::-1]
        while stack:
            k = stack.pop()
            order.append(k)
            stack.extend(children[k][::-1])
        xid = [0] * n
        for pos, k in enumerate(order):
            xid[k] = pos + 2
        lparent = [-1] * n
        for k in range(n):
            p = parent[k]
            while p >= 0 and tag[p] == "C":
                p = parent[p]
            lparent[k] = p
        # base exclusive weight per node; statements carry most of it
        weight = [0] * n
        for k in range(n):
            if tag[k] == "S":
                weight[k] = 1 + min(int(20 * rng.paretovariate(1.3)), 20000)
            elif tag[k] != "C" and rng.random() < 0.3:
                weight[k] = 1 + int(5 * rng.paretovariate(1.5))
        # hot spines: a few deep statements hold a large share, so the
        # greedy hot path runs deep and profiles disagree near the split
        deep = sorted((k for k in range(n) if tag[k] == "S"),
                      key=lambda k: (-depth[k], xid[k]))
        total = sum(weight)
        for i, k in enumerate(deep[:n_spines]):
            weight[k] = int(total * (0.45 - 0.12 * i))
        self.n = n
        self.tag, self.parent = tag, parent
        self.children, self.attrs, self.xid = children, attrs, xid
        self.order, self.lparent, self.weight = order, lparent, weight
        # loaded-tree view: callpath of XML ids, location columns
        self.loaded = [k for k in order if tag[k] != "C"]
        path: dict[int, tuple] = {}
        proc: dict[int, int | None] = {}
        for k in order:
            if tag[k] == "C":
                continue
            lp = lparent[k]
            path[k] = (path[lp] if lp >= 0 else ()) + (xid[k],)
            proc[k] = (attrs[k]["n"] if tag[k] == "PF"
                       else (proc[lp] if lp >= 0 else None))
        self.path = path
        self.proc = proc

    def procedure(self, k: int) -> str | None:
        p = self.proc.get(k)
        return None if p is None else self.procs[p]


class Profile:
    """One run of the skeleton: integer metric values per node."""

    def __init__(self, sk: Skeleton, seed: int, index: int):
        rng = random.Random(f"profile:{seed}:{index}")
        self.sk = sk
        self.index = index
        self.sources = rng.randrange(4, 65)
        scale = rng.uniform(0.5, 2.0)
        lo, hi = rng.randrange(2, 9), rng.randrange(16, 33)
        n = sk.n
        exc = [0] * n
        for k in range(n):
            w = sk.weight[k]
            if w:
                exc[k] = max(1, round(w * scale * math.exp(rng.gauss(0, 0.3))))
        inc = list(exc)
        for k in reversed(sk.order):  # children before parents
            p = sk.parent[k]
            if p >= 0:
                inc[p] += inc[k]
        self.exc, self.inc = exc, inc
        self.root_inc = sum(inc[k] for k in range(n) if sk.parent[k] < 0)
        self.lo, self.hi = lo, hi

    def min_i(self, v: int) -> int:
        return v * self.lo // 16

    def max_i(self, v: int) -> int:
        return v * self.hi // 16 + 1

    # -- XML ---------------------------------------------------------------
    def xml(self) -> bytes:
        sk = self.sk
        out = ['<?xml version="1.0"?>\n<HPCToolkitExperiment version="2.0">\n'
               '<Header n="perfbench"/>\n'
               f'<SecCallPathProfile i="0" n="run{self.index}">\n'
               "<SecHeader>\n<MetricTable>\n"]
        for mid, name, mtype, fin, comb in METRICS:
            out.append(f'<Metric i="{mid}" n="{name}" v="raw" t="{mtype}" '
                       'show="1" show-percent="1">\n')
            if comb:
                out.append(f'<MetricFormula t="combine" frm="{comb}"/>\n')
            if fin:
                out.append(f'<MetricFormula t="finalize" frm="{fin}"/>\n')
            out.append('<Info><NV n="units" v="events"/></Info>\n</Metric>\n')
        out.append("</MetricTable>\n<LoadModuleTable>\n")
        out += [f'<LoadModule i="{i}" n="{m}"/>\n'
                for i, m in enumerate(sk.modules)]
        out.append("</LoadModuleTable>\n<FileTable>\n")
        out += [f'<File i="{i}" n="{f}"/>\n' for i, f in enumerate(sk.files)]
        out.append("</FileTable>\n<ProcedureTable>\n")
        out += [f'<Procedure i="{i}" n="{p}"/>\n'
                for i, p in enumerate(sk.procs)]
        out.append("</ProcedureTable>\n</SecHeader>\n<SecCallPathProfileData>\n")
        out.append(self._metrics_xml(self.root_inc, 0))
        tag, attrs, children, xid = sk.tag, sk.attrs, sk.children, sk.xid

        def emit(k: int) -> None:
            a = attrs[k]
            t = tag[k]
            if t == "PF":
                out.append(f'<PF i="{xid[k]}" s="{a["s"]}" l="{a["l"]}" '
                           f'lm="{a["lm"]}" f="{a["f"]}" n="{a["n"]}">\n')
            else:
                out.append(f'<{t} i="{xid[k]}" s="{a["s"]}" l="{a["l"]}">\n')
            out.append(self._metrics_xml(self.inc[k], self.exc[k]))
            for c in children[k]:
                emit(c)
            out.append(f"</{t}>\n")

        for k in range(sk.n):
            if sk.parent[k] < 0:
                emit(k)
        out.append("</SecCallPathProfileData>\n</SecCallPathProfile>\n"
                   "</HPCToolkitExperiment>\n")
        return "".join(out).encode()

    def _metrics_xml(self, inc: int, exc: int) -> str:
        s = (f'<M n="{SUM_I}" v="{inc}"/><M n="{MIN_I}" v="{self.min_i(inc)}"/>'
             f'<M n="{MAX_I}" v="{self.max_i(inc)}"/>'
             f'<M n="{SOURCES}" v="{self.sources}"/>')
        if exc:
            s += f'<M n="{SUM_E}" v="{exc}"/>'
        return s + "\n"

    # -- answers -----------------------------------------------------------
    def mean_i(self, k: int) -> float:
        """Finalized ``Mean (I)`` of loaded node k (-1 = root)."""
        v = self.root_inc if k < 0 else self.inc[k]
        return float(v) / float(self.sources)

    def ratio_of_total(self, k: int) -> float:
        return self.mean_i(k) / self.mean_i(-1)

    def ratio_of_parent(self, k: int) -> float | None:
        """Parent's value always qualifies (I is consistent), so the
        reference's walk-up stops at the parent; a zero parent gives
        NULL."""
        if k < 0:
            return 1.0
        base = self.mean_i(self.sk.lparent[k])
        return self.mean_i(k) / base if base else None

    def hot_chain(self, threshold: float) -> list[int]:
        """XML ids of the greedy chain on ``Mean (I) ratio of total``."""
        return greedy_chain(self.sk, lambda k: self.ratio_of_total(k),
                            threshold)


def loaded_children(sk: Skeleton) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {-1: []}
    for k in sk.loaded:
        kids.setdefault(sk.lparent[k], []).append(k)
    return kids


def greedy_chain(sk: Skeleton, value, threshold: float) -> list[int]:
    """Reference hot_path: descend to the max-value child (ties: smallest
    id) while it clears ``threshold``; the root (-1) is always in."""
    kids = loaded_children(sk)
    chain = [-1]
    cur = -1
    while kids.get(cur):
        best = max(kids[cur], key=lambda c: (value(c), -sk.xid[c]))
        if value(best) < threshold:
            break
        chain.append(sk.xid[best])
        cur = best
    return chain


def flame_layout(sk: Skeleton, value, prefix: tuple = (),
                 max_depth: int | None = None) -> list[tuple]:
    """(id, depth, width, offset) per segment, the same arithmetic as
    operators.flame.flame_layout (reference hpctoolkit_dataframe.py:
    459-515): first layer normalized to 2*pi, deeper layers split their
    parent's width, siblings in callpath order."""
    min_depth = len(prefix) + 1
    by_depth: dict[int, list] = {}
    for k in sk.loaded:
        p = sk.path[k]
        d = len(p)
        if (p[:len(prefix)] == prefix and d >= min_depth
                and (max_depth is None or d <= max_depth)):
            by_depth.setdefault(d, []).append((p, k))
    for level in by_depth.values():
        level.sort()
    out = []
    geom: dict[int, tuple] = {}
    depth = min_depth
    while depth in by_depth:
        level = by_depth[depth]
        new_geom: dict[int, tuple] = {}
        if depth == min_depth:
            groups = [(None, level)]
        else:
            groups = {}
            for p, k in level:
                groups.setdefault(p[-2], []).append((p, k))
            groups = list(groups.items())
        for parent, items in groups:
            if parent is None:
                pw, po = 2 * math.pi, 0.0
            elif parent in geom:
                pw, po = geom[parent]
            else:
                continue
            total = sum(value(k) for _, k in items) or 1.0
            cum = 0.0
            for p, k in items:
                w = value(k) / total * pw
                new_geom[p[-1]] = (w, po + cum)
                out.append((p[-1], depth, w, po + cum))
                cum += w
        geom = new_geom
        depth += 1
    return out


def merged_values(profiles: list[Profile]):
    """Merged-tree answers for ``merge_profiles`` with the MetricTable's
    combine kinds: per node (sum I, sum E or None, min of Min (I),
    max of Max (I)), plus the root's row."""
    sk = profiles[0].sk
    sum_i = [0] * sk.n
    sum_e: list = [None] * sk.n
    mins = [None] * sk.n
    maxs = [None] * sk.n
    for pr in profiles:
        for k in sk.loaded:
            v = pr.inc[k]
            sum_i[k] += v
            if pr.exc[k]:
                sum_e[k] = (sum_e[k] or 0) + pr.exc[k]
            lo, hi = pr.min_i(v), pr.max_i(v)
            mins[k] = lo if mins[k] is None else min(mins[k], lo)
            maxs[k] = hi if maxs[k] is None else max(maxs[k], hi)
    root_i = sum(pr.root_inc for pr in profiles)
    root = (root_i, root_i,  # the loader copies root (I) into root (E)
            min(pr.min_i(pr.root_inc) for pr in profiles),
            max(pr.max_i(pr.root_inc) for pr in profiles))
    return sum_i, sum_e, mins, maxs, root
