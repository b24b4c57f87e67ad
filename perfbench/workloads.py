"""The benchmark's workloads: seeded inputs, expected replies, and the
operation stream each one sends to the engine.

A workload builds its store through the engine's public API
(``ParquetLogStore.append/commit``, ``GraphSession.attach``,
``ParquetLogStore.hydrate``), then yields ``Op``s.  Each op sends one
request (or runs one inventory query) and returns whether the answer
matched what the generator knows.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
import re
import shutil
from dataclasses import dataclass
from typing import Callable

#: the predictable-mode database id every fresh store uses
_GUID_PREFIX = "0000001240003456"


def guid_of(i: int) -> str:
    """Guid of the primitive with local id ``i`` in a fresh store."""
    return _GUID_PREFIX + format((1 << 63) | i, "016x")


def seed_tag(seed: int) -> str:
    """Three letters derived from the seed, part of every literal, so
    each seed sends different request lines."""
    out = ""
    for _ in range(3):
        seed, r = divmod(seed, 26)
        out += chr(97 + r)
    return out


@dataclass
class Op:
    kind: str  # "read", "write" or "query"
    label: str  # request shape or query name
    run: Callable[[], bool]


# -- request lines ----------------------------------------------------------

def one_hop(v: str) -> str:
    return f'read (name="nation" value="{v}" result=((guid value)))'


def two_hop(v: str) -> str:
    return (
        f'read (name="nation" value="{v}" result=((value contents)) '
        '(<-left name="in-region" result=contents '
        'right->(name="region" result=((value)))))'
    )


def in_region(r: str, head: str) -> str:
    """Nations linked to region ``r``; ``head`` holds the root's extra
    terms (paging, sort, result)."""
    return (
        f'read (name="nation" {head} '
        f'(<-left name="in-region" right->(name="region" value="{r}")))'
    )


def ok_one_hop(g: str, v: str) -> str:
    return f'ok (({g} "{v}"))'


def ok_two_hop(v: str, r: str) -> str:
    return f'ok (("{v}" (("{r}"))))'


#: result fields a template variant may list, and how each renders
_FIELDS = ("guid", "value", "name", "datatype")
_FIELD_PERMS = [
    p for k in range(1, len(_FIELDS) + 1)
    for p in itertools.permutations(_FIELDS, k)
]
_TERM_ORDERS = list(itertools.permutations(("name", "value", "result")))


def variant(idx: int, g: str, v: str, r: str) -> tuple[str, str]:
    """Template variant ``idx`` of a 1-hop or 2-hop read and its
    expected reply.  The pool (768 shapes) is larger than every
    request cache, so a variant request is parsed from scratch."""
    two, rest = divmod(idx, len(_FIELD_PERMS) * len(_TERM_ORDERS))
    fields, order = divmod(rest, len(_TERM_ORDERS))
    fields = _FIELD_PERMS[fields]
    render = {"guid": g, "value": f'"{v}"', "name": '"nation"',
              "datatype": "string"}
    res = " ".join(fields) + (" contents" if two else "")
    terms = {"name": 'name="nation"', "value": f'value="{v}"',
             "result": f"result=(({res}))"}
    body = " ".join(terms[t] for t in _TERM_ORDERS[order])
    out = " ".join(render[f] for f in fields)
    if two:
        body += (
            ' (<-left name="in-region" result=contents '
            'right->(name="region" result=((value))))'
        )
        out += f' (("{r}"))'
    return f"read ({body})", f"ok (({out}))"


VARIANTS = 2 * len(_FIELD_PERMS) * len(_TERM_ORDERS)

_MEMBERS = '(<-right name="in-region" '
_CURSOR = re.compile(r'ok \(\(\("([^"]*)"((?: \([0-9a-f]{32}\))*)\)\)\)$')


def region_members(r: str, page: int) -> str:
    """First page of a cursor chain over the nations linked to region
    ``r``; later pages add ``cursor=`` to the link subconstraint."""
    return (
        f'read (name="region" value="{r}" result=((contents)) '
        f'{_MEMBERS}pagesize={page} result=(cursor (left))))'
    )


# -- the nation/region graph ------------------------------------------------

class Graph:
    """R regions, N nations, one ``in-region`` link per nation.  Written
    regions first, then nation + link pairs, so ids are predictable."""

    def __init__(self, seed: int, nations: int, regions: int):
        rng = random.Random(seed)
        tag = seed_tag(seed)
        self.regions = [f"r{tag}{j:04d}" for j in range(regions)]
        self.nations = [f"n{tag}{i:06d}" for i in range(nations)]
        # every region gets the same number of nations, so a cursor
        # chain has the same length whatever the seed
        order = list(range(nations))
        rng.shuffle(order)
        self.region_of = [order[i] % regions for i in range(nations)]
        self.members: list[list[int]] = [[] for _ in range(regions)]
        for i, j in enumerate(self.region_of):
            self.members[j].append(i)

    @property
    def size(self) -> int:
        return len(self.regions) + 2 * len(self.nations)

    def nation_id(self, i: int) -> int:
        return len(self.regions) + 2 * i

    def write(self, store) -> None:
        """Append every primitive to ``store`` and commit once."""
        guids = [store.append(value=r, name="region").guid
                 for r in self.regions]
        for v, j in zip(self.nations, self.region_of):
            nat = store.append(value=v, name="nation")
            store.append(name="in-region", left=nat.guid, right=guids[j])
        store.commit()
        if guids[0] != guid_of(0):
            raise RuntimeError("store did not start at id 0")


def build_log(spark, path: str, graph: Graph) -> None:
    from graphd_spark.store import ParquetLogStore

    shutil.rmtree(path, ignore_errors=True)
    graph.write(ParquetLogStore(spark, path, fresh=True))


def log_bytes(path: str) -> int:
    return sum(
        e.stat().st_size for e in os.scandir(path) if e.name.endswith(".parquet")
    )


def zipf_cum(n: int, s: float = 1.0) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        out.append(acc)
    return out


# -- workloads --------------------------------------------------------------

class Workload:
    name = ""
    #: directories whose os.listdir calls the trace counts
    log_dirs: tuple = ()
    #: ops run Spark jobs: the traced loop gives each its own job group
    spark_ops = False
    #: seconds of untimed operations before the timed loop (0: one
    #: cycle), or None for no warm-up loop
    warm_seconds = None

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.rng = random.Random(seed ^ 0x5EED)

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def next_op(self) -> Op:
        raise NotImplementedError

    def begin(self) -> None:
        """Called before each timed loop."""

    def cycle_done(self) -> bool:
        """True once the loop may stop at its deadline."""
        return True

    def maintenance_due(self) -> bool:
        """True when ``maintain`` should run before the next operation."""
        return False

    def maintain(self) -> None:
        """Housekeeping between operations, outside the timed region."""

    def count_bytes(self) -> None:
        """Start counting the bytes commits add to the log."""
        self._bytes_base, self._bytes_done = log_bytes(self.log), 0

    def written_bytes(self) -> int:
        """Bytes commits added to the log since ``count_bytes``."""
        return self._bytes_done + log_bytes(self.log) - self._bytes_base

    def primitives(self) -> int:
        raise NotImplementedError

    def info(self) -> dict:
        return {}


class ServeWriteMix(Workload):
    """Hydrated serving under writes.  80% reads: Zipf-skewed 1-hop and
    2-hop reads, cursor-paged chains and 1% template variants, with 30%
    of the reads on a recently written nation.  20% protocol writes:
    new nations with their ``in-region`` link, and ``guid~=`` version
    bumps, one commit file each.  Every ``COMPACT_EVERY`` writes the
    loop compacts the log outside the timed region, so the directory
    every read lists cycles through the same file counts however long
    the run is.  New nations join the upper half of the regions and
    chains page the lower half, so every chain has the same length."""

    name = "serve_write_mix"
    warm_seconds = 1.0
    NATIONS, REGIONS, PAGE = 10_000, 500, 10
    #: Zipf exponent of the key popularity: about a quarter of reads
    #: repeat a line the request caches hold (with s=1 it is near one
    #: half, which puts the median on the boundary between the cached
    #: and the uncached path)
    ZIPF_S = 0.8
    #: shares of reads: 1-hop below the first bound, 2-hop below the
    #: second, then cursor chains (two pages each), the rest
    #: template variants
    READ_MIX = (0.12, 0.975, 0.99)
    WRITE_SHARE, RECENT_SHARE, RECENT = 0.2, 0.3, 256
    COMPACT_EVERY = 128

    def __init__(self, spark, workdir, seed):
        super().__init__(spark, workdir, seed)
        self.g = Graph(seed, self.NATIONS, self.REGIONS)
        self.rank = list(range(self.NATIONS))
        self.rng.shuffle(self.rank)
        self.cum = zipf_cum(self.NATIONS, self.ZIPF_S)
        self.chain = None
        self.log = os.path.join(workdir, "serve_log")
        self.log_dirs = (self.log,)

    def setup(self, rep: int) -> None:
        from graphd_spark.api import GraphSession

        self.gs = None
        build_log(self.spark, self.log, self.g)
        gs = GraphSession.attach(self.spark, self.log)
        if not gs.store.hydrate():
            raise RuntimeError("hydrate declined the serving store")
        self.gs = gs
        self.reset_model()
        g = self.g
        for i in range(0, self.NATIONS, self.NATIONS // 16):  # warm-up
            gs.request(one_hop(g.nations[i]))
            gs.request(two_hop(g.nations[i]))
            gs.request(variant(i % VARIANTS, guid_of(g.nation_id(i)),
                               g.nations[i], g.regions[g.region_of[i]])[0])
        for j in range(4):
            self._start_chain(j)
            while self.chain is not None:
                self._chain_page().run()

    def reset_model(self) -> None:
        """Expected state of the freshly built store."""
        g = self.g
        # per nation: [value, guid, region index, still linked]
        self.model = [
            [v, guid_of(g.nation_id(i)), g.region_of[i], True]
            for i, v in enumerate(g.nations)
        ]
        self.next_id = g.size
        self.recent: list[int] = []
        self.writes = self.since_compact = 0
        self.chain = None
        self.count_bytes()

    def primitives(self) -> int:
        return self.next_id

    def maintenance_due(self) -> bool:
        return self.since_compact >= self.COMPACT_EVERY

    def maintain(self) -> None:
        self._bytes_done += log_bytes(self.log) - self._bytes_base
        self.gs.store.compact()
        self._bytes_base = log_bytes(self.log)
        self.since_compact = 0

    def _key(self) -> int:
        if self.recent and self.rng.random() < self.RECENT_SHARE:
            return self.rng.choice(self.recent)
        r = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return self.rank[min(r, self.NATIONS - 1)]

    def _send(self, line: str, want: str) -> bool:
        return self.gs.request(line) == want

    def next_op(self) -> Op:
        if self.chain is not None:
            return self._chain_page()
        if self.rng.random() < self.WRITE_SHARE:
            return self._write()
        g, k = self.g, self._key()
        v, gd, j, linked = self.model[k]
        r = g.regions[j]
        u = self.rng.random()
        one, two, chain = self.READ_MIX
        if u < one or (u < two and not linked):
            return Op("read", "1hop", lambda: self._send(
                one_hop(v), ok_one_hop(gd, v)))
        if u < two:
            return Op("read", "2hop", lambda: self._send(
                two_hop(v), ok_two_hop(v, r)))
        if u < chain:
            self._start_chain(j % (self.REGIONS // 2))
            return self._chain_page()
        # a nation whose link names an older version has no 2-hop answer
        idx = self.rng.randrange(VARIANTS if linked else VARIANTS // 2)
        line, want = variant(idx, gd, v, r)
        return Op("read", "variant", lambda: self._send(line, want))

    def _write(self) -> Op:
        rng, g = self.rng, self.g
        self.writes += 1
        self.since_compact += 1
        tag = seed_tag(self.seed)
        if rng.random() < 0.5:
            # region j has id j; chains page the lower half
            j = rng.randrange(self.REGIONS // 2, self.REGIONS)
            v = f"w{tag}{self.writes:06d}"
            line = (f'write (name="nation" value="{v}" (<-left '
                    f'name="in-region" right={guid_of(j)}))')
            gd = guid_of(self.next_id)
            want = f"ok ({gd} ({guid_of(self.next_id + 1)}))"
            self.model.append([v, gd, j, True])
            k, self.next_id = len(self.model) - 1, self.next_id + 2
        else:
            k = rng.randrange(len(self.model))
            ent = self.model[k]
            v = f"{ent[0].split('.')[0]}.{self.writes}"
            line = f'write (guid~={ent[1]} name="nation" value="{v}")'
            want = f"ok ({guid_of(self.next_id)})"
            # the link names the old version: 2-hop reads miss it
            self.model[k] = [v, guid_of(self.next_id), ent[2], False]
            self.next_id += 1
        self.recent.append(k)
        del self.recent[:-self.RECENT]
        return Op("write", "write", lambda: self._send(line, want))

    def _start_chain(self, j: int) -> None:
        g = self.g
        self.chain = {
            "line": region_members(g.regions[j], self.PAGE),
            "want": [guid_of(g.nation_id(m)) for m in g.members[j]],
            "got": [], "cursor": None,
        }

    def _chain_page(self) -> Op:
        ch = self.chain

        def page() -> bool:
            line = ch["line"]
            if ch["cursor"] is not None:
                line = line.replace(
                    _MEMBERS, f'{_MEMBERS}cursor="{ch["cursor"]}" ', 1)
            m = _CURSOR.match(self.gs.request(line))
            if m is None:
                self.chain = None
                return False
            ch["got"] += re.findall(r"\(([0-9a-f]{32})\)", m.group(2))
            if m.group(1) != "null:":
                ch["cursor"] = m.group(1)
                return True
            self.chain = None
            return ch["got"] == ch["want"]

        return Op("read", "chain", page)

    def info(self) -> dict:
        return {"primitives": self.g.size, "nations": self.NATIONS,
                "regions": self.REGIONS, "writes": self.writes,
                "compact_every": self.COMPACT_EVERY}


#: inventory queries the analytic workload runs, one per operator
#: family: joins, anti-join, group-by, window top-k, dedup, event
#: windows, string aggregation, LSH, ANN, tokenizing, UDF scoring and
#: the bulk-restore parse
INVENTORY = (
    "linkage_join_2hop", "anti_join_count0", "count_per_parent",
    "topk_per_group", "newest_version_dedup", "events_window_agg",
    "collect_contents", "dedup_minhash_lsh", "ann_cosine_topk",
    "corpus_vocab_topk", "text_quality_score", "restore_bulk",
)

COMPILED = ("c1hop", "c2hop", "ctopk", "ccount")


class Analytic(Workload):
    """Compiled protocol reads over an attached, un-hydrated log plus
    the inventory queries, in one fixed cycle."""

    name = "analytic"
    spark_ops = True
    warm_seconds = 0.0
    NATIONS, REGIONS, TOPK = 10_000, 100, 5

    def __init__(self, spark, workdir, seed):
        super().__init__(spark, workdir, seed)
        from perfbench import invdata
        from graphd_spark import (  # noqa: F401  (registers the queries)
            inventory, inventory_events, inventory_media, inventory_pipeline,
        )

        self.g = Graph(seed, self.NATIONS, self.REGIONS)
        self.log = os.path.join(workdir, "compiled_log")
        self.log_dirs = (self.log,)
        self.data = os.path.join(workdir, "inventory")
        invdata.generate(self.data, seed)
        self.queries = {q: inventory.QUERIES[q] for q in INVENTORY}
        self.expected = invdata.oracle_counts(
            self.data, {q: inventory.ORACLES[q] for q in INVENTORY})
        # one compiled read before every three queries
        cycle = []
        for k, name in enumerate(INVENTORY):
            if k % 3 == 0:
                cycle.append(("read", COMPILED[k // 3]))
            cycle.append(("query", name))
        self.cycle = cycle
        self.pos = 0

    def setup(self, rep: int) -> None:
        from graphd_spark.api import GraphSession
        from graphd_spark.session import load_tables

        # the JVM's first compiles and the Python workers warm up in
        # the untimed cycle run.py sends before the timed loop
        self.gs = None
        build_log(self.spark, self.log, self.g)
        self.gs = GraphSession.attach(self.spark, self.log)
        load_tables(self.spark, self.data)

    def primitives(self) -> int:
        return self.g.size

    def begin(self) -> None:
        self.pos = 0

    def cycle_done(self) -> bool:
        # whole cycles only: a loop cut inside a cycle would time a
        # different mix of queries on a faster host
        return self.pos > 0 and self.pos % len(self.cycle) == 0

    def next_op(self) -> Op:
        kind, label = self.cycle[self.pos % len(self.cycle)]
        self.pos += 1
        if kind == "query":
            fn, want = self.queries[label], self.expected[label]
            return Op("query", label,
                      lambda: fn(self.spark, self.data).count() == want)
        g, i = self.g, self.rng.randrange(self.NATIONS)
        v, j = g.nations[i], g.region_of[i]
        r = g.regions[j]
        if label == "c1hop":
            line, want = one_hop(v), ok_one_hop(guid_of(g.nation_id(i)), v)
        elif label == "c2hop":
            line, want = two_hop(v), ok_two_hop(v, r)
        elif label == "ctopk":
            # regions sort by index: their values are zero-padded
            line = (f'read (name="region" value>="{r}" sort=value '
                    f'pagesize={self.TOPK} result=((value)))')
            want = "ok (" + " ".join(
                f'("{t}")' for t in g.regions[j:j + self.TOPK]) + ")"
        else:
            line = in_region(r, "result=count")
            want = f"ok {len(g.members[j])}"
        return Op("read", label, lambda: self.gs.request(line) == want)

    def info(self) -> dict:
        return {"primitives": self.g.size, "nations": self.NATIONS,
                "regions": self.REGIONS, "queries": list(INVENTORY),
                "expected_rows": self.expected}


WORKLOADS = {w.name: w for w in (ServeWriteMix, Analytic)}
