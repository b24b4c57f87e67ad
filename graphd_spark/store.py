"""The primitive store: an append-only log of graph tuples.

The reference keeps primitives in an append-only "istore" addressed by
dense local ids, with GUIDs = database-id + serial (ref
libaddb/README:9-15, libpdb/pdb-primitive.h:36-146).  Two backends:

- :class:`PrimitiveStore` — in-memory log (golden tests, staging);
- :class:`ParquetLogStore` — the scale backend: the parquet log on
  disk IS the source of truth.  ``to_df`` is ``spark.read.parquet``
  over the log (lazy — Catalyst prunes/pushes down into the files),
  each commit appends its delta as one parquet file written directly
  from the driver via pyarrow (the OLTP write path needs no Spark
  job — graphd is single-writer, ref doc/a-brief-tour-of-graphd.md:73-82),
  and the driver keeps only a *bounded cache* of recent primitives for
  the write pipeline's point lookups; anything evicted (or predating an
  ``attach``) is looked up through Spark on demand.  A 121M-primitive
  log therefore never materializes on the driver.

Version chains: every primitive carries ``lineage`` (GUID of the first
generation) and ``generation`` (0-based), making the reference's
generation index (libpdb/pdb-generation) a plain pair of columns —
"newest" membership compiles to a window over ``lineage`` instead of a
prev-chain walk.

Write transactions are atomic per request (ref
doc/a-brief-tour-of-graphd.md:73-82): ``begin``/``commit``/``rollback``
bracket each write request; rollback truncates the log back to the
transaction start, so failed writes leave nothing behind.  Only
``commit`` flushes to the parquet log, so rolled-back rows never touch
disk and analytical readers only ever see committed state.
"""

from __future__ import annotations

import contextlib
import functools
import os
from typing import Iterator, Optional

from graphd_spark.lru import LRU
from graphd_spark.model import (
    PREDICTABLE_DB_ID,
    PRIMITIVES_SCHEMA,
    PRIMITIVE_FIELDS,
    Primitive,
    guid_compose,
    ts_predictable,
)


class StoreError(Exception):
    code = "SYSTEM"

    @property
    def message(self) -> str:
        return str(self)


class TooBigError(StoreError):
    """Primitive exceeds the storage format's size fields (ref
    libpdb/pdb-primitive-alloc.c:88-115, graphd-write.c:273)."""

    code = "TOOBIG"


#: name length field is 2 bytes (ref PDB_PRIMITIVE_NAMELEN_SIZE)
NAME_MAX = (1 << 16) - 1
#: one istore tile bounds the whole primitive (ref libaddb/addb-tiled)
PRIMITIVE_MAX = 32 * 1024


class PrimitiveStore:
    """Append-only primitive log with driver-side point indexes.

    The driver-side indexes (by guid / name / value) serve the *write*
    pipeline's embedded lookups (type resolution, unique/key/anchor
    matching — ref graphd/graphd-write.c:596-782), which are point
    queries over hot keys.  Analytical reads never use them; they go
    through ``to_df`` + the DataFrame compiler.

    ``rows`` holds primitives for ids in ``[_base, next_id)``; the
    in-memory backend always has ``_base == 0`` (full mirror).  The
    parquet subclass may advance ``_base`` (bounded cache) and answer
    for older ids through Spark.
    """

    def __init__(self, db_id: int = PREDICTABLE_DB_ID):
        self.db_id = db_id
        self.rows: list[Primitive] = []
        self._base = 0  # id of rows[0]
        self.by_guid: dict[str, Primitive] = {}
        # guid -> guid of the successor version (None key absent = newest)
        self.next_version: dict[str, str] = {}
        # case-folded value -> ids (ref libpdb hmap PDB_HASH_VALUE is
        # matched case-insensitively, graphd-type.c strncasecmp)
        self._value_ids: dict[str, list[int]] = {}
        self._name_ids: dict[str, list[int]] = {}
        # serving fast-path indexes (fastread.py): value_norm -> ids
        # (the hash the reference's value hmap buckets by), raw
        # per-linkage pointer gmaps, and lineage-canonical typeguid
        # sets (type= matching is lineage-expanded)
        self._vnorm_ids: dict[str, list[int]] = {}
        self._ptr_ids: dict[tuple[str, str], list[int]] = {}
        self._lin_ids: dict[tuple[str, str], list[int]] = {}
        # word-index mirror (libpdb/pdb-word.c): 25-bit word-hash code
        # -> ids whose value contains any word with that code, deduped
        # per id.  Drives the fast path's prefix-bin candidate sets and
        # prefix-iterator statistics (value~="P*" cursors).
        self._word_ids: dict[int, list[int]] = {}
        self._txn_start: Optional[int] = None
        self._version = 0  # bumped per commit; invalidates the df cache
        self._df = None
        self._df_version = -1
        #: (count, ts, op) -> timestamp_to_id answer
        self._ts2id_cache = LRU(4096)
        #: guid (or "succ:" + guid) -> Primitive for off-cache Spark
        #: lookups of the parquet backend
        self._lookup_cache = LRU(8192)
        #: (context id, asof) -> (source frame, base frame) — see
        #: Compiler._build_base
        self._base_frame_memo = LRU(8)
        #: FastReader's (plan, matches) per read — see FastReader.
        #: It lives on the store because its keys (version, count)
        #: only identify content within one store
        self._eval_cache = LRU(32)

    # -- transactions -----------------------------------------------------

    def begin(self) -> None:
        if self._txn_start is not None:
            raise StoreError("nested write transaction")
        self._txn_start = self.next_id

    def commit(self) -> None:
        self._txn_start = None
        self._version += 1

    def rollback(self) -> None:
        if self._txn_start is None:
            return
        while self.next_id > self._txn_start:
            p = self.rows.pop()
            del self.by_guid[p.guid]
            if p.prev is not None:
                self.next_version.pop(p.prev, None)
            if p.value is not None:
                self._value_ids[p.value.lower()].pop()
            if p.name is not None:
                self._name_ids[p.name.lower()].pop()
            self._unindex_prim(p)
        self._txn_start = None

    # -- append -----------------------------------------------------------

    @property
    def next_id(self) -> int:
        return self._base + len(self.rows)

    def count(self) -> int:
        """Number of primitives in the store (== the next local id)."""
        return self.next_id

    def guid_for_id(self, id: int) -> str:
        return guid_compose(self.db_id, id)

    def ts_for_id(self, id: int) -> int:
        """Predictable-mode timestamp for an allocated primitive
        (overridable: v1 restores tick only on allocations, not on
        payload tuples carrying their own timestamps)."""
        return ts_predictable(id)

    def append(
        self,
        *,
        typeguid: str | None = None,
        left: str | None = None,
        right: str | None = None,
        scope: str | None = None,
        prev: str | None = None,
        name: str | None = None,
        value: str | None = None,
        datatype: int | None = None,
        live: bool = True,
        archival: bool = True,
        txstart: bool | None = None,
        timestamp: int | None = None,
        guid: str | None = None,
    ) -> Primitive:
        """Allocate the next id and append one primitive.

        Mirrors pdb_primitive_alloc: datatype defaults to string(2) when
        a value is present, null(1) otherwise (ref graphd-type.c
        write_primitive); predictable timestamps count primitives (ref
        graphd/graphd-predictable.c).
        """
        if name is not None and len(name) + 1 > NAME_MAX:
            raise TooBigError("name too long")
        total = (len(name) if name else 0) + (len(value) if value else 0)
        if total + 128 > PRIMITIVE_MAX:
            raise TooBigError("primitive too big")
        id = self.next_id
        if txstart is None:
            # first primitive of the current write transaction (ref
            # write_primitive: PDB_PRIMITIVE_BIT_TXSTART unless
            # gdw_txstart_written; bootstrap primitives count too)
            txstart = self._txn_start is not None and id == self._txn_start
        if guid is None:
            guid = self.guid_for_id(id)
        if datatype is None:
            datatype = 1 if value is None else 2
        if timestamp is None:
            timestamp = self.ts_for_id(id)
        if prev is not None:
            prev_p = self.get(prev)
            if prev_p is None:
                raise StoreError(f"versioning unknown guid {prev}")
            lineage, generation = prev_p.lineage, prev_p.generation + 1
            self.next_version[prev] = guid
        else:
            lineage, generation = guid, 0
        from graphd_spark.comparators import (
            decode_number,
            fuzzy_key,
            render_sci,
            value_norm_key,
        )

        def lin(g: str | None) -> str | None:
            # canonicalize a linkage reference to its lineage head
            # (unknown/foreign guids canonicalize to themselves)
            if g is None:
                return None
            t = self.get(g)
            return t.lineage if t is not None else g

        p = Primitive(
            id=id,
            guid=guid,
            typeguid=typeguid,
            left=left,
            right=right,
            scope=scope,
            prev=prev,
            typeguid_lin=lin(typeguid),
            left_lin=lin(left),
            right_lin=lin(right),
            scope_lin=lin(scope),
            name=name,
            datatype=datatype,
            value=value,
            value_norm=value_norm_key(value),
            value_num=(
                None
                if value is None
                or (dec := decode_number(value, scientific=True)) is None
                else render_sci(dec)
            ),
            value_fkey=None if value is None else fuzzy_key(value),
            live=live,
            archival=archival,
            txstart=txstart,
            timestamp=timestamp,
            lineage=lineage,
            generation=generation,
        )
        self.rows.append(p)
        self.by_guid[guid] = p
        if value is not None:
            self._value_ids.setdefault(value.lower(), []).append(id)
        if name is not None:
            self._name_ids.setdefault(name.lower(), []).append(id)
        self._index_prim(p)
        return p

    def _index_prim(self, p: Primitive) -> None:
        if p.value_norm is not None:
            self._vnorm_ids.setdefault(p.value_norm, []).append(p.id)
        if p.value is not None:
            from graphd_spark.wordhash import value_word_codes

            for code in value_word_codes(p.value):
                self._word_ids.setdefault(code, []).append(p.id)
        for lk in ("typeguid", "left", "right", "scope"):
            v = getattr(p, lk)
            if v is not None:
                self._ptr_ids.setdefault((lk, v), []).append(p.id)
        for lk in ("typeguid_lin", "left_lin", "right_lin", "scope_lin"):
            v = getattr(p, lk)
            if v is not None:
                self._lin_ids.setdefault((lk, v), []).append(p.id)

    def _unindex_prim(self, p: Primitive) -> None:
        if p.value_norm is not None:
            self._vnorm_ids[p.value_norm].pop()
        if p.value is not None:
            from graphd_spark.wordhash import value_word_codes

            for code in value_word_codes(p.value):
                self._word_ids[code].pop()
        for lk in ("typeguid", "left", "right", "scope"):
            v = getattr(p, lk)
            if v is not None:
                self._ptr_ids[(lk, v)].pop()
        for lk in ("typeguid_lin", "left_lin", "right_lin", "scope_lin"):
            v = getattr(p, lk)
            if v is not None:
                self._lin_ids[(lk, v)].pop()

    def mirror_current(self) -> bool:
        """Is the driver mirror guaranteed to reflect every committed
        primitive?  The in-memory backend is its own source of truth;
        the parquet backend checks the log directory for foreign
        appends (another session sharing the log)."""
        return True

    # -- driver-side point lookups (write path only) ----------------------

    def get(self, guid: str) -> Optional[Primitive]:
        return self.by_guid.get(guid)

    def successor(self, guid: str) -> Optional[str]:
        """GUID of the version that supersedes ``guid`` (None = newest)."""
        return self.next_version.get(guid)

    def is_newest(self, guid: str) -> bool:
        return self.successor(guid) is None

    def newest_of(self, guid: str) -> Optional[Primitive]:
        """Follow the version chain from ``guid`` to its newest."""
        p = self.get(guid)
        while p is not None and (nxt := self.successor(p.guid)):
            p = self.get(nxt)
        return p

    def find_by_value(self, value: str) -> Iterator[Primitive]:
        for id in self._value_ids.get(value.lower(), ()):
            yield self.rows[id - self._base]

    def find_by_name(self, name: str) -> Iterator[Primitive]:
        for id in self._name_ids.get(name.lower(), ()):
            yield self.rows[id - self._base]

    def lineage_members(self, lineage: str) -> list[str]:
        """All version GUIDs of a lineage (walks the next chain)."""
        out = []
        g: str | None = lineage
        while g is not None:
            p = self.get(g)
            if p is None:
                break
            out.append(g)
            g = self.successor(g)
        return out

    # -- scans (dump, type reverse lookups, unique matching) --------------

    def iter_all(self) -> Iterator[Primitive]:
        """All primitives in id order."""
        return iter(self.rows)

    def iter_range(self, start: int, end: int) -> Iterator[Primitive]:
        """Primitives with ``start <= id < end`` in id order."""
        lo = max(start - self._base, 0)
        hi = max(end - self._base, 0)
        return iter(self.rows[lo:hi])

    def last_primitive(self) -> Optional[Primitive]:
        return self.rows[-1] if self.rows else None

    def asof_id_for_ts(self, ts: int) -> int:
        """asof horizon id: graphd_timestamp_to_id(ts, LE)
        (graphd_read_compile_asof, graphd-read.c:442-480); -1 when no
        primitive qualifies (the reference's dateline 0).  Uses the
        reference's exact bsearch so explicit out-of-order timestamps
        land on the same arbitrary-but-deterministic boundary."""
        found = self.timestamp_to_id(ts, "le")
        return -1 if found is None else found

    def ts_of_id(self, id: int) -> int:
        """Stored timestamp of one primitive (bsearch point read)."""
        return self.rows[id - self._base].timestamp

    def timestamp_to_id(self, ts: int, op: str) -> Optional[int]:
        """EXACT mirror of graphd_timestamp_to_id (graphd/
        graphd-timestamp.c:46-200): a binary search over all
        primitives, "which must be in timestamp order — whether or not
        that is actually true depends on the inserting party".
        Explicit ``timestamp=`` writes break monotonicity and the
        reference STILL bsearches, so timestamp range bounds land on
        arbitrary-but-deterministic ids; cursor/read parity needs the
        identical walk.  op in ('lt','le','eq','ge','gt'); None is
        GRAPHD_ERR_NO (the constraint compiles to false).

        Memoized per (store count, ts, op): keyed writes run two
        bsearches per candidate per timestamp literal, and on a
        ParquetLogStore every probe below the cache base is a Spark
        point read — the count key self-invalidates on appends."""
        n = self.count()
        if n == 0:
            return None
        ck = (n, ts, op)
        if ck in self._ts2id_cache:
            return self._ts2id_cache.get(ck)
        return self._ts2id_cache.put(
            ck, self._timestamp_to_id_walk(ts, op, n)
        )

    def _timestamp_to_id_walk(self, ts: int, op: str, n: int
                              ) -> Optional[int]:
        base = 0
        nelem = n
        while True:
            hs = nelem // 2
            found = base + hs
            val = self.ts_of_id(found)
            if val == ts:
                if op == "lt":
                    found -= 1
                    if found < 0:
                        return None
                elif op == "gt":
                    found += 1
                    if found >= n:
                        return None
                return found
            if val > ts:
                nelem = hs
                if nelem == 0:
                    # found > ts; found-1, if it exists, < ts
                    if op in ("lt", "le"):
                        found -= 1
                        if found < 0:
                            return None
                    elif op == "eq":
                        return None
                    return found
            else:
                base = found + 1
                nelem -= hs + 1
                if nelem == 0:
                    # found < ts; found+1, if it exists, > ts
                    if op == "eq":
                        return None
                    if op in ("ge", "gt"):
                        found += 1
                        if found >= n:
                            return None
                    return found

    # -- Spark view -------------------------------------------------------

    def to_df(self, spark):
        """The ``primitives`` DataFrame (cached until the next commit)."""
        if self._df is not None and self._df_version == self._version:
            return self._df
        end = (
            self._txn_start - self._base
            if self._txn_start is not None
            else len(self.rows)
        )
        data = [p.as_row() for p in self.rows[:end]]
        self._df = spark.createDataFrame(data, PRIMITIVES_SCHEMA)
        self._df_version = self._version
        return self._df

    # -- Parquet backend (bulk / scale path) ------------------------------

    def save_parquet(self, spark, path: str, partitions: int = 1) -> None:
        self.to_df(spark).repartition(partitions).write.mode(
            "overwrite"
        ).parquet(path)

    def append_parquet(self, spark, path: str, since_id: int = 0) -> int:
        """Append rows with id >= since_id as one commit file — the
        append-only log a replica stream (streaming.py) tails.
        Returns the next id (the dateline horizon)."""
        rows = [
            p.as_row() for p in self.iter_range(since_id, self.next_id)
        ]
        if rows:
            spark.createDataFrame(rows, PRIMITIVES_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(path)
            ParquetLogStore._write_epoch += 1
        return self.next_id

    @classmethod
    def load_parquet(cls, spark, path: str, db_id: int = PREDICTABLE_DB_ID):
        """Open a Parquet primitives table as a store WITHOUT loading it
        onto the driver: returns a :class:`ParquetLogStore` attached to
        ``path`` (only a 1-row max-id/db-id aggregate is collected).
        """
        return ParquetLogStore.attach(spark, path, db_id=db_id)

    def __len__(self) -> int:
        return self.next_id


# -- commit-file format (driver-side pyarrow) ---------------------------

@functools.cache
def _arrow_schema():
    """The arrow schema of a log part, mirroring PRIMITIVES_SCHEMA."""
    import pyarrow as pa

    typ = {
        "id": pa.int64(),
        "datatype": pa.int32(),
        "generation": pa.int32(),
        "value_fkey": pa.binary(),
        "live": pa.bool_(),
        "archival": pa.bool_(),
        "txstart": pa.bool_(),
        "timestamp": pa.int64(),
    }
    return pa.schema(
        [(f, typ.get(f, pa.string())) for f in PRIMITIVE_FIELDS]
    )


def _prims_table(prims: list):
    """``prims`` as a log-part table, built by one ``pa.array`` call
    over their su_encode'd rows (``Primitive.as_row``)."""
    import pyarrow as pa

    schema = _arrow_schema()
    rows = pa.array([p.as_row() for p in prims], type=pa.struct(schema))
    return pa.Table.from_batches(
        [pa.RecordBatch.from_struct_array(rows)], schema=schema
    )


def _write_part(dirpath: str, table, start: int, *, durable: bool) -> None:
    """Land ``table`` in ``dirpath`` as ``part-<start>-<count>.parquet``.

    The file is serialized in memory, written under a hidden
    ``.part-….parquet.tmp`` name and renamed into place, so no reader
    ever sees a partial part: Spark skips dot-files and _fs_spans
    skips names not ending in ``.parquet``.  ``durable`` fsyncs the
    file before the rename and the directory after it.

    Dictionary encoding is off: most columns are unique guids, where
    dictionary pages only add encode time and bytes.  The arrow schema
    is not stored in the footer: the parquet types read back as the
    same arrow types, and Spark never reads it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"part-{start:012d}-{table.num_rows:08d}.parquet"
    tmp = os.path.join(dirpath, f".{name}.tmp")
    sink = pa.BufferOutputStream()
    pq.write_table(
        table, sink, compression="snappy", use_dictionary=False,
        store_schema=False,
    )
    try:
        with open(tmp, "wb") as fh:
            fh.write(sink.getvalue())
            if durable:
                fh.flush()
                os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(dirpath, name))
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise
    if durable:
        fd = os.open(dirpath, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


class ParquetLogStore(PrimitiveStore):
    """Primitive store whose source of truth is a parquet log directory.

    - ``to_df`` = ``spark.read.parquet(log)`` (lazy; Catalyst pushes
      filters into the files) — the read path never serializes the
      store through the driver.
    - ``commit`` appends the transaction's delta as ONE parquet part,
      ``part-<start>-<count>.parquet``, written driver-side with
      pyarrow (~1 ms; no Spark job): the analog of the reference's
      istore append + index update (libaddb/README:9-15).  The part
      lands by rename from a hidden tmp file, so readers see all of a
      commit or none of it.  A commit is not fsynced: it survives a
      process crash once ``commit`` returns, but not a power loss.
      Commit granularity is what a replica stream tails
      (streaming.py).
    - ``compact`` merges the parts into one.  The merged part is
      fsynced and renamed into place, and the directory fsynced,
      before the parts it covers are unlinked; a crash in between
      leaves covered parts, which the span listing ignores and
      ``attach`` unlinks before its first Spark read.
    - the driver keeps a bounded suffix cache (``cache_rows``) of
      recent primitives for the write annotators' point lookups (ref
      graphd-write.c:596-782); lookups below the cached range fall back
      to Spark queries over the log, so the store never needs to fit
      in driver memory.
    """

    def __init__(
        self,
        spark_provider,
        path: str,
        db_id: int = PREDICTABLE_DB_ID,
        fresh: bool = False,
        cache_rows: Optional[int] = None,
    ):
        super().__init__(db_id=db_id)
        self._spark_provider = (
            spark_provider if callable(spark_provider)
            else (lambda s=spark_provider: s)
        )
        self.path = path
        self.cache_rows = cache_rows
        self._flushed = 0  # ids < _flushed are on disk
        os.makedirs(path, exist_ok=True)
        if fresh:
            # hidden ".part-" files are tmp parts of a crashed commit;
            # attach leaves them alone (another process may be writing)
            for f in os.listdir(path):
                if f.endswith(".parquet") or f.startswith(
                    ("part-", "_", ".part-")
                ):
                    os.unlink(os.path.join(path, f))

    @classmethod
    def attach(
        cls, spark, path: str, db_id: int = PREDICTABLE_DB_ID
    ) -> "ParquetLogStore":
        """Open an existing log without driver materialization: only
        the last row's (id, guid) is collected to set the id horizon
        and adopt the database id."""
        store = cls(spark, path, db_id=db_id)
        # finish an interrupted compaction before Spark lists the files
        covered: list = []
        store._fs_spans(covered)
        store._unlink_parts(covered)
        from pyspark.sql import functions as F

        df = store._log_df()
        last = (
            df.orderBy(F.col("id").desc()).select("id", "guid").limit(1)
        ).collect()
        if last:
            store._base = store._flushed = last[0]["id"] + 1
            from graphd_spark.model import guid_db

            store.db_id = guid_db(last[0]["guid"])
            store._version += 1
        return store

    # -- helpers ----------------------------------------------------------

    def _spark(self):
        return self._spark_provider()

    _PART_RE = None  # compiled lazily below

    def _fs_spans(self, covered: Optional[list] = None) -> Optional[list]:
        """The commit files on disk as sorted (start, count, name)
        spans — one os.listdir, no Spark job.  None when the directory
        contains parquet files outside the canonical
        part-<start>-<count> naming (e.g. a Spark-written bulk
        import), whose id coverage we can't read cheaply.

        A span inside a wider span that starts at or before it is a
        part an interrupted compaction left behind: it is dropped
        (and its name appended to ``covered`` when given).  Raises
        StoreError when the live spans leave a hole in the ids from
        0: a log with a missing part is never read as complete."""
        import re as _re

        if ParquetLogStore._PART_RE is None:
            ParquetLogStore._PART_RE = _re.compile(
                r"part-(\d{12})-(\d{8})\.parquet$"
            )
        spans = []
        for f in os.listdir(self.path):
            if not f.endswith(".parquet"):
                continue
            m = ParquetLogStore._PART_RE.match(f)
            if m is None:
                return None
            spans.append((int(m.group(1)), int(m.group(2)), f))
        spans.sort(key=lambda s: (s[0], -s[1]))
        live, end = [], 0
        for s in spans:
            if s[0] + s[1] <= end:
                if covered is not None:
                    covered.append(s[2])
                continue
            if s[0] > end:
                raise StoreError(
                    f"parquet log {self.path} is missing ids "
                    f"{end}..{s[0] - 1}, before {s[2]}"
                )
            live.append(s)
            end = s[0] + s[1]
        return live

    @staticmethod
    def _horizon_of(spans: list) -> int:
        """Next id according to the commit-file spans."""
        return max((s + c for s, c, _ in spans), default=0)

    #: (dir-stat signature, _fs_spans listing) — see mirror_current
    _dir_sig_cache = None

    #: class-level write epoch: bumped by EVERY in-process commit-file
    #: write (any ParquetLogStore instance), so a same-process foreign
    #: append invalidates every session's TTL cache immediately
    _write_epoch = 0

    #: (monotonic_ns when the verified-current proof began, epoch) —
    #: see mirror_current's TTL fast path and _flush
    _mc_cache = None

    #: TTL of a verified-current verdict.  Another in-process
    #: session's append bumps _write_epoch and forces a re-check at
    #: once (a store's own commits carry its verdict, see _flush), so
    #: the only thing the TTL can hide is a cross-process append
    #: landing within the window.
    #: 10 ms: the stat behind an expired TTL costs ~90 us on overlay
    #: filesystems, which at 40k+ q/s made the re-probe a measurable
    #: serving tax; 10 ms is still far inside any replica-visibility
    #: contract the reference implies.
    _MC_TTL_NS = 10_000_000  # 10 ms

    def mirror_current(self) -> bool:
        if not self._covers_all:
            return False
        import time as _time

        now = _time.monotonic_ns()
        mc = self._mc_cache
        if (
            mc is not None
            and mc[1] == ParquetLogStore._write_epoch
            and now - mc[0] < self._MC_TTL_NS
        ):
            return True
        # one os.stat of the log directory stands in for the listdir
        # when nothing changed: adding a commit file bumps the
        # directory's mtime/ctime, so an identical stat signature
        # means the same file set.  Kernel file timestamps tick at
        # jiffy granularity (~1-4 ms), so a signature taken while the
        # directory is "hot" (mtime within the last second) is never
        # cached — a foreign append landing in the same jiffy as the
        # listdir would otherwise alias the signature and hide
        # forever.  Steady-state serving (no recent appends) pays one
        # stat per TTL instead of a listdir+regex.
        try:
            st = os.stat(self.path)
            sig = (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        cached = self._dir_sig_cache
        if sig is not None and cached is not None and cached[0] == sig:
            spans = cached[1]
        else:
            spans = self._fs_spans()
            if (
                sig is not None
                and spans is not None
                and _time.time_ns() - sig[0] > 1_000_000_000
            ):
                self._dir_sig_cache = (sig, spans)
            else:
                self._dir_sig_cache = None
        if spans is None:
            self._mc_cache = None
            return False
        if self._horizon_of(spans) <= self.next_id:
            # the verdict holds for one TTL whether the directory is
            # hot or cold: a listing is authoritative when it runs,
            # and the same-jiffy rule above guards only the signature
            # cache, which has no expiry
            self._mc_cache = (now, ParquetLogStore._write_epoch)
            return True
        self._dir_sig_cache = None  # absorbing changes our own state
        self._mc_cache = None
        return self._absorb_delta(spans)

    def _absorb_delta(self, spans: list) -> bool:
        """Another session appended to the shared log: pull the delta
        commit files (``spans`` from _fs_spans) into the mirror
        driver-side (pyarrow — no Spark job), keeping the serving fast
        path hot under multi-session writes."""
        import pyarrow.parquet as pq

        from graphd_spark.model import su_decode

        expect = base = self.next_id
        for start, _, f in spans:
            if start < base:
                continue
            if start != expect:
                return False  # a part straddles the mirror's end
            table = pq.read_table(os.path.join(self.path, f))
            for r in table.to_pylist():
                p = Primitive(**{k: r[k] for k in PRIMITIVE_FIELDS})
                if p.name is not None:
                    p.name = su_decode(p.name)
                if p.value is not None:
                    p.value = su_decode(p.value)
                self.rows.append(p)
                self.by_guid[p.guid] = p
                if p.prev is not None:
                    self.next_version[p.prev] = p.guid
                if p.value is not None:
                    self._value_ids.setdefault(
                        p.value.lower(), []
                    ).append(p.id)
                if p.name is not None:
                    self._name_ids.setdefault(
                        p.name.lower(), []
                    ).append(p.id)
                self._index_prim(p)
            expect += table.num_rows
        self._flushed = expect
        return expect == self._horizon_of(spans)

    def hydrate(self, limit: int = 200_000) -> bool:
        """Load the whole log into the driver mirror — the serving
        working set (fastread.py answers point reads from the mirror's
        indexes with no Spark job, the reference's in-process serving
        analog).  Declines (returns False) when the log exceeds
        ``limit`` rows; True when the mirror now covers the log.

        Streams via toLocalIterator in id order, so no single collect
        exceeds a partition; indexes (value/name/norm/lineage/linkage)
        and the successor map rebuild as rows arrive."""
        if self._covers_all:
            return True
        if self.rows:
            return False  # partial mirror with live writes: keep as-is
        if self.next_id > limit:
            return False
        from pyspark.sql import functions as F

        from graphd_spark.model import su_decode

        it = self._log_df().orderBy("id").toLocalIterator()
        rows: list[Primitive] = []
        for r in it:
            p = self._from_row(r)
            if p.name is not None:
                p.name = su_decode(p.name)
            if p.value is not None:
                p.value = su_decode(p.value)
            rows.append(p)
            self.by_guid[p.guid] = p
            if p.prev is not None:
                self.next_version[p.prev] = p.guid
            if p.value is not None:
                self._value_ids.setdefault(p.value.lower(), []).append(p.id)
            if p.name is not None:
                self._name_ids.setdefault(p.name.lower(), []).append(p.id)
            self._index_prim(p)
        self.rows = rows
        self._base = 0
        return True

    def _log_df(self):
        return (
            self._spark()
            .read.schema(PRIMITIVES_SCHEMA)
            .parquet(self.path)
        )

    def ts_of_id(self, id: int) -> int:
        """Timestamp point read; ids below the cache base go through
        one Spark lookup (the bsearch reads ~log2(n) of these)."""
        if id >= self._base:
            return self.rows[id - self._base].timestamp
        from pyspark.sql import functions as F

        row = (
            self._log_df().filter(F.col("id") == id)
            .select("timestamp").head()
        )
        return int(row["timestamp"])

    @property
    def _covers_all(self) -> bool:
        """True while the driver cache mirrors the whole log (every
        write went through this process and nothing was evicted)."""
        return self._base == 0

    def _from_row(self, r) -> Primitive:
        return Primitive(**{f: r[f] for f in PRIMITIVE_FIELDS})

    # -- transactions -----------------------------------------------------

    def commit(self) -> None:
        self._flush()
        super().commit()
        self._trim_cache()

    def _flush(self) -> None:
        """Write rows[_flushed:] as one log part (driver-side pyarrow,
        no Spark job on the OLTP write path)."""
        pend = self.rows[self._flushed - self._base:]
        if not pend:
            return
        _write_part(
            self.path, _prims_table(pend), self._flushed, durable=False
        )
        self._flushed = self.next_id
        # any in-process commit write invalidates every session's
        # mirror_current TTL cache (see _write_epoch) — except this
        # store's own verdict, when it was taken at the epoch just
        # before this bump (no other writer came in between): it moves
        # to the new epoch with its original timestamp, so own writes
        # never extend the TTL
        mc = self._mc_cache
        ParquetLogStore._write_epoch += 1
        if mc is not None and mc[1] == ParquetLogStore._write_epoch - 1:
            self._mc_cache = (mc[0], ParquetLogStore._write_epoch)

    def compact(self) -> None:
        """Merge the canonical commit files into ONE part file — the
        background compactor the log format anticipates (see the
        class docstring; libaddb's analog merges small append files).
        Row content, ids and the fs horizon are unchanged; only the
        file count drops, so every downstream scan stops paying
        per-file footer/open overhead (a 31-write store is otherwise
        31 tiny parquet files, re-opened by each compiled read).
        Skips foreign layouts (files outside the part-<start>-<count>
        naming, e.g. a Spark-written bulk import) and parts whose row
        counts disagree with their names; a log with a missing part
        raises StoreError (_fs_spans).

        Crash rule: the merged part lands durably (fsync, rename,
        directory fsync) before any old part is unlinked, so a crash
        leaves either the old parts alone or the merged part beside
        some of the parts it covers; _fs_spans ignores covered parts
        and ``attach`` unlinks them."""
        spans = self._fs_spans()
        if spans is None or len(spans) <= 1:
            return  # foreign layout, or nothing to merge
        import pyarrow as pa
        import pyarrow.parquet as pq

        tables = [
            pq.read_table(os.path.join(self.path, f)) for _, _, f in spans
        ]
        merged = pa.concat_tables(tables).sort_by("id")
        # the live spans chain from id 0 (_fs_spans), so the merged
        # part starts at 0
        if merged.num_rows != self._horizon_of(spans):
            return  # overlap or short parts: refuse a lying name
        _write_part(self.path, merged, 0, durable=True)
        try:
            self._unlink_parts(f for _, _, f in spans)
        finally:
            ParquetLogStore._write_epoch += 1
            self._dir_sig_cache = None
            self._mc_cache = None
            # drop the memoized lazy frame: its plan pins the old file
            # listing (content is identical, so _version stays —
            # derived caches keyed on it remain valid)
            self._df = None
            # Spark's shared file-status cache may still list the old
            # commit files for this path; drop those entries so the
            # next scan plans against the compacted layout
            try:
                self._spark().catalog.refreshByPath(self.path)
            except Exception:
                pass  # no live session: nothing cached a listing yet

    def _unlink_parts(self, names) -> None:
        for f in names:
            # another process finishing the same compaction may have
            # unlinked it first
            with contextlib.suppress(FileNotFoundError):
                os.unlink(os.path.join(self.path, f))

    def _trim_cache(self) -> None:
        if self.cache_rows is None or len(self.rows) <= self.cache_rows:
            return
        drop = len(self.rows) - self.cache_rows
        dropped, self.rows = self.rows[:drop], self.rows[drop:]
        self._base += drop
        for p in dropped:
            self.by_guid.pop(p.guid, None)
        # rebuild the value/name id maps over the surviving suffix
        self._value_ids.clear()
        self._name_ids.clear()
        self._vnorm_ids.clear()
        self._ptr_ids.clear()
        self._lin_ids.clear()
        for p in self.rows:
            if p.value is not None:
                self._value_ids.setdefault(p.value.lower(), []).append(p.id)
            if p.name is not None:
                self._name_ids.setdefault(p.name.lower(), []).append(p.id)
            self._index_prim(p)

    # -- point lookups with Spark fallback --------------------------------

    def get(self, guid: str) -> Optional[Primitive]:
        p = self.by_guid.get(guid)
        if p is not None or self._covers_all:
            return p
        if guid in self._lookup_cache:
            return self._lookup_cache.get(guid)
        from pyspark.sql import functions as F

        rows = self._log_df().filter(F.col("guid") == guid).limit(1).collect()
        p = self._from_row(rows[0]) if rows else None
        return self._lookup_cache.put(guid, p)

    def successor(self, guid: str) -> Optional[str]:
        nxt = self.next_version.get(guid)
        if nxt is not None or self._covers_all:
            return nxt
        key = "succ:" + guid
        if key in self._lookup_cache:
            hit = self._lookup_cache.get(key)
            return hit.guid if hit is not None else None
        from pyspark.sql import functions as F

        rows = (
            self._log_df().filter(F.col("prev") == guid).limit(1).collect()
        )
        p = self._from_row(rows[0]) if rows else None
        self._lookup_cache.put(key, p)
        return p.guid if p is not None else None

    def find_by_value(self, value: str) -> Iterator[Primitive]:
        if self._covers_all:
            yield from super().find_by_value(value)
            return
        yield from self._find_spark("value", value)

    def find_by_name(self, name: str) -> Iterator[Primitive]:
        if self._covers_all:
            yield from super().find_by_name(name)
            return
        yield from self._find_spark("name", name)

    #: max rows a point lookup may COLLECT at once; a hotter key
    #: switches to toLocalIterator streaming (one partition's batch at
    #: a time), so a key= / unique= write against a value shared by
    #: millions of primitives can never pull them all into one driver
    #: buffer (the reference iterates its hmap bin lazily:
    #: libpdb/pdb-hash.c)
    POINT_LOOKUP_BOUND = 1024

    def _find_spark(self, field: str, text: str) -> Iterator[Primitive]:
        from pyspark.sql import functions as F

        base = (
            self._log_df()
            .filter(F.lower(F.col(field)) == text.lower())
            .filter(F.col("id") < self._flushed)
            .orderBy("id")
        )
        head = base.limit(self.POINT_LOOKUP_BOUND + 1).collect()
        if len(head) <= self.POINT_LOOKUP_BOUND:
            for r in head:
                yield self._from_row(r)
        else:
            # hot key: re-scan streaming — bounded driver memory
            for r in base.toLocalIterator():
                yield self._from_row(r)
        # unflushed tail (open transaction) lives only on the driver
        for p in self.rows[self._flushed - self._base:]:
            v = getattr(p, field)
            if v is not None and v.lower() == text.lower():
                yield p

    def lineage_members(self, lineage: str) -> list[str]:
        if self._covers_all:
            return super().lineage_members(lineage)
        from pyspark.sql import functions as F

        sel = (
            self._log_df()
            .filter(F.col("lineage") == lineage)
            .filter(F.col("id") < self._flushed)
            .select("generation", "guid")
        )
        head = sel.limit(self.POINT_LOOKUP_BOUND + 1).collect()
        if len(head) <= self.POINT_LOOKUP_BOUND:
            it = head
        else:
            # pathological chain: stream instead of one big collect
            it = sel.toLocalIterator()
        pairs = [(r["generation"], r["guid"]) for r in it]
        pairs += [
            (p.generation, p.guid)
            for p in self.rows[self._flushed - self._base:]
            if p.lineage == lineage
        ]
        return [g for _, g in sorted(pairs)]

    # -- scans ------------------------------------------------------------

    def iter_all(self) -> Iterator[Primitive]:
        if self._covers_all:
            return iter(self.rows)
        return self.iter_range(0, self.next_id)

    def iter_range(self, start: int, end: int) -> Iterator[Primitive]:
        if self._covers_all:
            yield from super().iter_range(start, end)
            return
        from pyspark.sql import functions as F

        lo, hi = start, min(end, self._base)
        if lo < hi:
            it = (
                self._log_df()
                .filter((F.col("id") >= lo) & (F.col("id") < hi))
                .orderBy("id")
                .toLocalIterator()  # streams; never whole-log on driver
            )
            for r in it:
                yield self._from_row(r)
        yield from super().iter_range(max(start, self._base), end)

    def last_primitive(self) -> Optional[Primitive]:
        if self.rows:
            return self.rows[-1]
        if self._base == 0:
            return None
        from pyspark.sql import functions as F

        rows = (
            self._log_df().orderBy(F.col("id").desc()).limit(1).collect()
        )
        return self._from_row(rows[0]) if rows else None

    # asof_id_for_ts inherits the exact bsearch; ts_of_id (below)
    # answers point reads for ids under the cache base through Spark

    # -- Spark view -------------------------------------------------------

    def to_df(self, spark=None):
        spark = spark if spark is not None else self._spark()
        if self._df is not None and self._df_version == self._version:
            return self._df
        df = self._log_df()
        if self._txn_start is not None:
            # defensive: txn rows are never flushed before commit, but
            # make the read horizon explicit anyway
            from pyspark.sql import functions as F

            df = df.filter(F.col("id") < self._txn_start)
        self._df = df
        self._df_version = self._version
        return self._df

    def save_parquet(self, spark, path: str, partitions: int = 1) -> None:
        if os.path.abspath(path) == os.path.abspath(self.path):
            return  # already the log
        super().save_parquet(spark, path, partitions)
