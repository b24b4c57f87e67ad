"""The primitive store: an append-only log of graph tuples.

The reference keeps primitives in an append-only "istore" addressed by
dense local ids, with GUIDs = database-id + serial (ref
libaddb/README:9-15, libpdb/pdb-primitive.h:36-146).  Two backends:

- :class:`PrimitiveStore` — in-memory log (golden tests, staging);
- :class:`ParquetLogStore` — the scale backend: the log on disk IS
  the source of truth.  ``to_df`` is ``spark.read.parquet`` over the
  log's parts (lazy — Catalyst prunes/pushes down into the files)
  plus the rows of its Arrow tail, each commit appends its delta to
  that tail from the driver via pyarrow (the OLTP write path needs no
  Spark job — graphd is single-writer, ref
  doc/a-brief-tour-of-graphd.md:73-82), the tail rolls into a parquet
  part every ``TAIL_ROWS`` rows, and the driver keeps only a *bounded
  cache* of recent primitives for the write pipeline's point lookups;
  anything evicted (or predating an ``attach``) is looked up through
  Spark on demand.  A 121M-primitive log therefore never materializes
  on the driver.

Version chains: every primitive carries ``lineage`` (GUID of the first
generation) and ``generation`` (0-based), making the reference's
generation index (libpdb/pdb-generation) a plain pair of columns —
"newest" membership compiles to a window over ``lineage`` instead of a
prev-chain walk.

Write transactions are atomic per request (ref
doc/a-brief-tour-of-graphd.md:73-82): ``begin``/``commit``/``rollback``
bracket each write request; rollback truncates the log back to the
transaction start, so failed writes leave nothing behind.  Only
``commit`` flushes to the log, so rolled-back rows never touch
disk and analytical readers only ever see committed state.
"""

from __future__ import annotations

import bisect
import contextlib
import fcntl
import functools
import itertools
import os
import re
import time
from typing import Iterator, Optional

from pyspark.sql import functions as F

from graphd_spark.lru import LRU
from graphd_spark.model import (
    PREDICTABLE_DB_ID,
    PRIMITIVES_SCHEMA,
    PRIMITIVE_FIELDS,
    Primitive,
    guid_compose,
    su_decode,
    su_encode,
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
        self._mirror_add(p)
        return p

    def _mirror_add(self, p: Primitive) -> None:
        """Append a primitive to the mirror and index it: the one
        routine behind ``append``, ``hydrate`` and absorbed foreign
        commits (``rollback`` undoes it)."""
        self.rows.append(p)
        self.by_guid[p.guid] = p
        if p.prev is not None:
            self.next_version[p.prev] = p.guid
        self._index_prim(p)

    def _index_prim(self, p: Primitive) -> None:
        if p.name is not None:
            self._name_ids.setdefault(p.name.lower(), []).append(p.id)
        if p.value_norm is not None:
            self._vnorm_ids.setdefault(p.value_norm, []).append(p.id)
        if p.value is not None:
            from graphd_spark.wordhash import value_word_codes

            self._value_ids.setdefault(p.value.lower(), []).append(p.id)
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
        if p.name is not None:
            self._name_ids[p.name.lower()].pop()
        if p.value_norm is not None:
            self._vnorm_ids[p.value_norm].pop()
        if p.value is not None:
            from graphd_spark.wordhash import value_word_codes

            self._value_ids[p.value.lower()].pop()
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
        GRAPHD_ERR_NO (the constraint compiles to false)."""
        n = self.count()
        if n == 0:
            return None
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
        ``path`` (only the last row's id and guid are read; see
        ``ParquetLogStore.attach``).
        """
        return ParquetLogStore.attach(spark, path, db_id=db_id)

    def __len__(self) -> int:
        return self.next_id


# -- log file formats (driver-side pyarrow) -----------------------------

#: rows a tail may hold: the commit that would pass this rolls the
#: tail, its own rows included, into one parquet part.  An append
#: costs the same at any tail length, while a roll decodes every
#: message of the tail: with 2-row commits on a 4-vCPU VM a roll
#: took ~60 ms at 1k rows, ~175 ms at 4k and ~830 ms at 16k, about
#: 85-120 us per commit amortized.  4k keeps the rolling commit's
#: stall, and the tail Spark reads union in, small while each roll
#: (one part, two fsyncs) is paid once per ~2k serving commits.
TAIL_ROWS = 4096

_PART_RE = re.compile(r"part-(\d{12})-(\d{8})\.parquet$")
_TAIL_RE = re.compile(r"_tail-(\d{12})\.arrows$")


def _tail_name(start: int) -> str:
    return f"_tail-{start:012d}.arrows"


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


@functools.cache
def _arrow_row_type():
    import pyarrow as pa

    return pa.struct(_arrow_schema())


def _rows_batch(rows: list):
    """Log rows (PRIMITIVES_SCHEMA tuples: su_encode'd, as stored) as
    one record batch, built by one ``pa.array`` call."""
    import pyarrow as pa

    return pa.RecordBatch.from_struct_array(
        pa.array(rows, type=_arrow_row_type())
    )


def _prims_batch(prims: list):
    """``prims`` as one record batch of their rows
    (``Primitive.as_row``)."""
    return _rows_batch([p.as_row() for p in prims])


def _read_tail(path: str, offset: int = 0) -> tuple[list, int]:
    """The complete record-batch messages of the tail at ``path`` from
    byte ``offset`` on, and the byte offset just past the last one.  A
    torn last message (its writer died mid-append) is left out."""
    import pyarrow as pa

    with open(path, "rb") as fh:
        fh.seek(offset)
        data = fh.read()
    reader, msgs, end = pa.BufferReader(data), [], 0
    while end < len(data):
        try:
            msgs.append(pa.ipc.read_message(reader))
        except (pa.ArrowInvalid, OSError, EOFError):
            break
        end = reader.tell()
    return msgs, offset + end


def _tail_table(msgs: list, extra: tuple = ()):
    """Tail messages (and ``extra`` record batches) as one table of
    one chunk: parquet and Spark pay per chunk, and a tail has one
    per commit."""
    import pyarrow as pa

    schema = _arrow_schema()
    return pa.Table.from_batches(
        [pa.ipc.read_record_batch(m, schema) for m in msgs] + list(extra),
        schema=schema,
    ).combine_chunks()


def _write_part(dirpath: str, table, start: int, *, durable: bool) -> None:
    """Land ``table`` in ``dirpath`` as ``part-<start>-<count>.parquet``.

    The file is serialized in memory, written under a hidden
    ``.part-….parquet.tmp`` name and renamed into place, so no reader
    ever sees a partial part: Spark skips dot-files and _fs_files
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


def _hot_window_ns(mtime_ns: int) -> int:
    """How long a directory with this mtime stays "hot" after a
    change: a change landing in the same timestamp tick as a stat
    carries the same mtime and would hide behind a cached signature,
    and once the mtime is older than one tick, any later change
    carries a later one.  The tick is read off the digits of
    ``mtime_ns``: a filesystem with 1 s (FAT: 2 s) timestamps stores
    whole seconds, giving two seconds here; one with fine timestamps
    stores the kernel's coarse clock (one jiffy, <= 10 ms at HZ >=
    100), covered by the 20 ms floor."""
    tick = 1
    while tick < 1_000_000_000 and mtime_ns % (tick * 10) == 0:
        tick *= 10
    return max(20_000_000, 2 * tick)


def _prims_of(batch) -> list:
    """The rows of a log record batch (or table), whose name, value
    and value_norm are su_encode'd, as mirror primitives.

    Decoded column by column: ``to_numpy(...).tolist()`` costs ~25 ms
    for a 20.5k-row log where ``to_pylist`` costs ~0.4-0.5 s.  An
    integer column holding a null goes through ``to_pylist``, since
    numpy would turn it into floats with NaN."""
    import pyarrow as pa

    cols = {}
    for f in PRIMITIVE_FIELDS:
        col = batch.column(f)
        if col.null_count and pa.types.is_integer(col.type):
            cols[f] = col.to_pylist()
        else:
            cols[f] = col.to_numpy(zero_copy_only=False).tolist()
    for f in ("name", "value", "value_norm"):
        cols[f] = [s if s is None else su_decode(s) for s in cols[f]]
    return list(map(Primitive, *cols.values()))


class ParquetLogStore(PrimitiveStore):
    """Primitive store whose source of truth is a log directory.

    - ``commit`` appends the transaction's rows as ONE Arrow IPC
      record-batch message (``RecordBatch.serialize()``, no schema
      message) to the tail, ``_tail-<start>.arrows``: one contiguous
      id span starting at the id in its name, driver-side pyarrow, no
      Spark job, no file created.  This is the analog of the
      reference's istore append (libaddb/README:9-15).  Spark and
      ``readStream`` skip ``_`` files, so the tail is invisible to
      anything that lists the directory itself.
    - everything rolled is parquet, ``part-<start>-<count>.parquet``.
      The commit that would push the tail past ``TAIL_ROWS`` rolls it:
      the tail's rows plus its own land as one part (fsynced, renamed
      into place from a hidden tmp, directory fsynced), and only then
      is the tail unlinked.  A commit above the bound with no tail to
      roll goes straight to a part.  ``compact`` merges every part and
      the tail into one part.
    - appends and rolls take ``flock(LOCK_EX)`` on the tail.  A roll
      holds it from reading the tail until the unlink, and an append
      that finds its tail unlinked once it holds the lock (``st_nlink
      == 0``) starts a new tail, so an append never lands in a tail
      a roll has already read.  A commit that finds another writer's
      rows at or past its first id, in its tail or in the listing a
      new tail starts from, raises StoreError instead of writing the
      ids twice.
    - a torn last message (a process died mid-append) is cut by every
      reader at the last complete batch, and truncated by the next
      append.  A crash between a roll's part and its unlink leaves a
      tail covered by the part: the span listing ignores it and
      ``attach`` unlinks it, as it does for parts an interrupted
      compaction leaves behind.
    - a commit survives a process crash once ``commit`` returns, but
      not a power loss: appends are not fsynced.
    - ``to_df`` is ``spark.read.parquet(log)`` (lazy; Catalyst pushes
      filters into the files), unioned with a local DataFrame of the
      tail's rows when there is a tail; the read path never
      serializes the parquet parts through the driver.
    - ``attach`` and ``hydrate`` read the log through pyarrow, with
      no Spark job: the listing gives the id horizon, the last row
      the database id, and ``hydrate`` decodes the parts and the tail
      column by column into the mirror (_absorb_delta).  Only a
      foreign layout (parquet files outside the part naming, e.g. a
      Spark-written bulk import) is opened and hydrated by a Spark
      query.
    - the driver keeps a bounded suffix cache (``cache_rows``) of
      recent primitives, ids ``[_base, next_id)``, for the write
      annotators' point lookups (ref graphd-write.c:596-782).  Every
      lookup answers ids below ``_base`` through one Spark reader
      (``_below``) and ids at or past it from the mirror alone, so
      the store never needs to fit in driver memory, and a row
      another writer committed past this session's horizon stays
      invisible until the session absorbs it.
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
        # the tail this store appends to: its first _tail_bytes bytes
        # hold ids [_tail_start, _flushed); None when the log's last
        # span is a part (the next commit starts a tail at _flushed)
        self._tail_start: Optional[int] = None
        self._tail_bytes = 0
        #: (tail spans, DataFrame of their rows) — see _log_df
        self._tail_frame = None
        os.makedirs(path, exist_ok=True)
        #: a directory whose mtime is younger than this is "hot": its
        #: signature is not cached (see mirror_current)
        self._hot_ns = _hot_window_ns(os.stat(path).st_mtime_ns)
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
        """Open an existing log without driver materialization.  The
        id horizon comes from the file listing; the last row's (id,
        guid), read through pyarrow from the last part's last row
        group or the tail's last batch, confirms it and gives the
        database id.  No Spark job runs, except for a foreign layout
        (see _fs_files), whose last row one Spark query reads.  Raises
        StoreError when the last row's id does not end the horizon."""
        from graphd_spark.model import guid_db

        store = cls(spark, path, db_id=db_id)
        while True:
            # finish an interrupted compaction or roll first
            covered: list = []
            spans = store._fs_spans(covered)
            store._unlink_parts(covered)
            try:
                last = store._last_row(spans)
                break
            except FileNotFoundError:  # rolled or compacted meanwhile
                continue
        if last is None:
            return store
        id, guid, nbytes = last
        if spans is not None:
            horizon = store._horizon_of(spans)
            # a tail may grow between the listing and its read; a
            # part never changes
            if id + 1 < horizon or (id + 1 > horizon and nbytes is None):
                raise StoreError(
                    f"parquet log {path}: {spans[-1][2]} ends at id {id}, "
                    f"its span at id {horizon - 1}"
                )
        store._base = store._flushed = id + 1
        store.db_id = guid_db(guid)
        store._version += 1
        if nbytes is not None:  # the next append continues the tail
            store._tail_start, store._tail_bytes = spans[-1][0], nbytes
        return store

    def _last_row(self, spans: Optional[list]) -> Optional[tuple]:
        """(id, guid, tail bytes) of the log's last row, None for an
        empty log.  ``spans`` are _fs_spans; the row comes from the
        last one through pyarrow, or through one Spark query when they
        are None.  Tail bytes is the byte offset after the last
        complete message when the last span is a tail, else None."""
        if spans is None:
            row = next(iter(
                self._log_df().orderBy(F.col("id").desc())
                .select("id", "guid").limit(1).collect()
            ), None)
            return None if row is None else (row["id"], row["guid"], None)
        if not spans:
            return None
        last, i, nbytes = self._span_rows(spans[-1], ["id", "guid"])
        return (
            last.column("id")[i].as_py(), last.column("guid")[i].as_py(),
            nbytes,
        )

    def _span_rows(self, span: tuple, columns: list, id=None) -> tuple:
        """(the rows of the log file ``span`` — an _fs_spans entry —
        that hold row ``id``, its index in them, the tail's byte
        offset after its last complete message or None for a part),
        read through pyarrow: one parquet row group, or one tail
        record batch.  ``id`` None is the span's last row."""
        start, _, f = span
        if f.endswith(".parquet"):
            import pyarrow.parquet as pq

            with pq.ParquetFile(os.path.join(self.path, f)) as pf:
                g, i = pf.num_row_groups - 1, -1
                if id is not None:
                    g, i = 0, id - start
                    while i >= pf.metadata.row_group(g).num_rows:
                        i -= pf.metadata.row_group(g).num_rows
                        g += 1
                return pf.read_row_group(g, columns=columns), i, None
        if id is None:
            last, nbytes = self._tail_last(start)
            return last, -1, nbytes
        import pyarrow as pa

        msgs, nbytes = _read_tail(self._tail_path(start))
        i = id - start
        for m in msgs:
            batch = pa.ipc.read_record_batch(m, _arrow_schema())
            if i < batch.num_rows:
                return batch, i, nbytes
            i -= batch.num_rows
        raise IndexError(f"id {id} is past {f}")

    # -- helpers ----------------------------------------------------------

    def _spark(self):
        return self._spark_provider()

    def _tail_path(self, start: int) -> str:
        return os.path.join(self.path, _tail_name(start))

    def _tail_last(self, start: int) -> tuple:
        """(the last complete record batch of the tail at ``start``,
        or None when there is none past what this store has read of
        its own tail, the byte offset after it)."""
        msgs, end = _read_tail(
            self._tail_path(start),
            self._tail_bytes if start == self._tail_start else 0,
        )
        if not msgs:
            return None, end
        import pyarrow as pa

        return pa.ipc.read_record_batch(msgs[-1], _arrow_schema()), end

    def _tail_end(self, start: int) -> tuple[int, int]:
        """(the id after the complete messages of the tail at
        ``start``, the byte offset after them), reading on from what
        this store has read of its own tail."""
        last, end = self._tail_last(start)
        if last is None:
            return (self._flushed if start == self._tail_start else start), end
        return last.column("id")[-1].as_py() + 1, end

    def _fs_files(self) -> tuple[Optional[list], list]:
        """The log files on disk as (part spans, tail spans), each a
        list of (start, count, name) — one os.listdir, no Spark job.
        The parts are None when the directory contains parquet files
        outside the canonical part-<start>-<count> naming (e.g. a
        Spark-written bulk import), whose id coverage we can't read
        cheaply.  A tail's count is its complete batches' rows; a
        tail without one is left out."""
        parts, tails = [], []
        for f in os.listdir(self.path):
            if f.endswith(".parquet"):
                m = _PART_RE.match(f)
                if m is None:
                    parts = None
                elif parts is not None:
                    parts.append((int(m[1]), int(m[2]), f))
            elif m := _TAIL_RE.match(f):
                start = int(m[1])
                try:
                    n = self._tail_end(start)[0] - start
                except FileNotFoundError:  # rolled since the listing
                    return self._fs_files()
                if n:
                    tails.append((start, n, f))
        return parts, tails

    def _fs_spans(self, covered: Optional[list] = None) -> Optional[list]:
        """The live log files as sorted (start, count, name) spans, or
        None for a foreign layout (see _fs_files)."""
        parts, tails = self._fs_files()
        return None if parts is None else self._live(parts + tails, covered)

    def _live(self, spans: list, covered: Optional[list] = None) -> list:
        """``spans`` sorted, without the spans inside a wider span that
        starts at or before them: a part an interrupted compaction
        left behind, or a tail whose roll was interrupted before its
        unlink (their names are appended to ``covered`` when given).
        Raises StoreError when the live spans leave a hole in the ids
        from 0: a log with a missing part is never read as
        complete."""
        # a part sorts before a tail of the same span, which it covers
        spans = sorted(spans, key=lambda s: (s[0], -s[1], s[2][0] == "_"))
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
        """Next id according to the log-file spans."""
        return max((s + c for s, c, _ in spans), default=0)

    #: the log signature (see _log_sig) under which the mirror was
    #: last proven current by a listing — see mirror_current
    _dir_sig_cache = None

    #: class-level write epoch: bumped by EVERY in-process commit
    #: (any ParquetLogStore instance), so a same-process foreign
    #: append invalidates every session's TTL cache immediately
    _write_epoch = 0

    #: (monotonic_ns when the verified-current proof began, epoch) —
    #: see mirror_current's TTL fast path
    _mc_cache = None

    #: TTL of a verified-current verdict.  Any in-process commit,
    #: this store's own included, bumps _write_epoch and forces a
    #: re-check at once, so the only thing the TTL can hide is a
    #: cross-process append landing within the window.
    #: 10 ms: the stats behind an expired TTL were a measurable
    #: serving tax at 40k+ q/s; 10 ms is still far inside any
    #: replica-visibility contract the reference implies.
    _MC_TTL_NS = 10_000_000  # 10 ms

    def _log_sig(self) -> Optional[tuple]:
        """((tail start, size, inode) of this store's tail or None,
        directory stat): every commit changes it.  An append grows
        the tail; a roll unlinks it; a new tail or part changes the
        directory."""
        try:
            tail = None
            if self._tail_start is not None:
                with contextlib.suppress(FileNotFoundError):
                    st = os.stat(self._tail_path(self._tail_start))
                    tail = (self._tail_start, st.st_size, st.st_ino)
            st = os.stat(self.path)
        except OSError:
            return None
        return tail, (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)

    def mirror_current(self) -> bool:
        if not self._covers_all:
            return False
        now = time.monotonic_ns()
        mc = self._mc_cache
        if (
            mc is not None
            and mc[1] == ParquetLogStore._write_epoch
            and now - mc[0] < self._MC_TTL_NS
        ):
            return True
        # two stats stand in for a listing when nothing changed: the
        # signature moves with every commit (_log_sig), and this
        # store's own appends move the cached one with it (see
        # _commit_batch), so they never force a listing
        sig = self._log_sig()
        if sig is None or sig != self._dir_sig_cache:
            self._dir_sig_cache = None
            spans = self._fs_spans()
            if spans is None or (
                self._horizon_of(spans) > self.next_id
                and not self._absorb_delta(spans)
            ):
                self._mc_cache = None
                return False
            # keep the signature the listing was taken under, unless
            # the log moved meanwhile or the directory is hot
            if (
                sig is not None
                and sig == self._log_sig()
                and time.time_ns() - sig[1][0] > self._hot_ns
            ):
                self._dir_sig_cache = sig
        self._mc_cache = (now, ParquetLogStore._write_epoch)
        return True

    def _absorb_delta(self, spans: list) -> bool:
        """Pull the rows past the mirror from ``spans`` (from
        _fs_spans) into it driver-side (pyarrow — no Spark job): the
        whole log for ``hydrate``, or what another session appended to
        the shared log, keeping the serving fast path hot under
        multi-session writes.  A part is read one record batch at a
        time; a tail is read from the byte offset already consumed.
        A file another store rolled or compacted away since the
        listing makes it list again and go on from the mirror's end,
        as ``attach`` does; the commit horizon (_flushed) is what the
        mirror holds, even when a read fails.  True when the mirror
        reaches the spans' horizon."""
        import pyarrow.parquet as pq

        try:
            while True:
                try:
                    for start, count, f in spans:
                        if start + count <= self.next_id:
                            continue
                        path = os.path.join(self.path, f)
                        if f.endswith(".parquet"):
                            with pq.ParquetFile(path) as pf:
                                self._ingest(pf.iter_batches())
                            continue
                        own = start == self._tail_start
                        msgs, end = _read_tail(
                            path, self._tail_bytes if own else 0
                        )
                        self._ingest(_tail_table(msgs).to_batches())
                        self._tail_start, self._tail_bytes = start, end
                    break
                except FileNotFoundError:  # rolled or compacted meanwhile
                    spans = self._fs_spans()
                    if spans is None:
                        return False
        finally:
            self._flushed = self.next_id
        if not spans or not _TAIL_RE.match(spans[-1][2]):
            self._tail_start, self._tail_bytes = None, 0
        return self.next_id >= self._horizon_of(spans)

    def _ingest(self, batches) -> None:
        """Add the rows of ``batches`` (record batches in id order)
        from the mirror's end on to the mirror."""
        for batch in batches:
            if batch.num_rows:
                start = batch.column("id")[0].as_py()
                for p in _prims_of(batch.slice(self.next_id - start)):
                    self._mirror_add(p)

    def hydrate(self, limit: int = 200_000) -> bool:
        """Load the whole log into the driver mirror — the serving
        working set (fastread.py answers point reads from the mirror's
        indexes with no Spark job, the reference's in-process serving
        analog).  Declines (returns False) when the log exceeds
        ``limit`` rows; True when the mirror now covers the log.

        The engine's own layout is read like any other session's
        appends (_absorb_delta on an empty mirror): through pyarrow,
        one record batch at a time, no Spark job, leaving the commit
        horizon and the tail offset at what it read.  A foreign
        layout is read by one Spark query, as one arrow table.
        Indexes (value/name/norm/lineage/linkage) and the successor
        map rebuild as rows arrive."""
        if self._covers_all:
            return True
        if self.rows:
            return False  # partial mirror with live writes: keep as-is
        if self.next_id > limit:
            return False
        spans = self._fs_spans()
        if spans is None:
            table = self._log_df().orderBy("id").toArrow()
            self._base = 0
            self._ingest(table.to_batches())
            self._flushed = self.next_id
            return True
        self._base = 0
        self._tail_start, self._tail_bytes = None, 0
        return self._absorb_delta(spans)

    def _log_df(self):
        """The log as a DataFrame: the parquet parts, unioned with the
        tail's rows when the log has a tail."""
        spark = self._spark()
        df = spark.read.schema(PRIMITIVES_SCHEMA).parquet(self.path)
        parts, tails = self._fs_files()
        if parts is not None:  # drop a tail a part covers
            tails = [s for s in self._live(parts + tails) if s in tails]
        tails = tuple(tails)
        if not tails:
            return df
        memo = self._tail_frame
        if memo is None or memo[0] != tails:
            import pyarrow as pa

            table = pa.concat_tables(
                _tail_table(_read_tail(os.path.join(self.path, f))[0])
                for _, _, f in tails
            )
            # an arrow table becomes a LocalRelation: scans of it need
            # no Python worker
            memo = self._tail_frame = (
                tails, spark.createDataFrame(table, PRIMITIVES_SCHEMA)
            )
        return df.unionByName(memo[1])

    @property
    def _covers_all(self) -> bool:
        """True while the driver cache mirrors the whole log (every
        write went through this process and nothing was evicted)."""
        return self._base == 0

    # -- transactions -----------------------------------------------------

    def commit(self) -> None:
        self._flush()
        super().commit()
        self._trim_cache()

    def _flush(self) -> None:
        """Commit rows[_flushed:] to the log (driver-side pyarrow, no
        Spark job on the OLTP write path) — see _commit_batch."""
        pend = self.rows[self._flushed - self._base:]
        if not pend:
            return
        batch = _prims_batch(pend)
        while not self._commit_batch(batch):
            pass  # another store rolled the tail first: resolve again
        # any in-process commit invalidates every session's
        # mirror_current TTL verdict (see _write_epoch)
        ParquetLogStore._write_epoch += 1

    @contextlib.contextmanager
    def _locked_tail(self, start: int, create: bool = False):
        """The tail at ``start`` opened for appending under an
        exclusive flock, or None when another store's roll unlinked
        it (before the open, or while this one waited for the lock)."""
        flags = os.O_WRONLY | os.O_APPEND | (os.O_CREAT if create else 0)
        try:
            fd = os.open(self._tail_path(start), flags, 0o644)
        except FileNotFoundError:
            yield None
            return
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield fd if os.fstat(fd).st_nlink else None
        finally:
            os.close(fd)  # releases the lock

    def _commit_batch(self, batch) -> bool:
        """Append ``batch`` (the rows from _flushed on) to the tail as
        one IPC message; or, when the tail would pass TAIL_ROWS, roll
        the tail and the batch into one durable part and unlink the
        tail.  False when another store rolled the tail first: its
        rows are in a part, and the caller starts a new tail.  Raises
        StoreError when another writer committed ids from _flushed on
        (see _cut_tail for the tail itself)."""
        import pyarrow as pa

        start = self._tail_start
        if start is None:
            # a new tail or part starts at _flushed: another writer's
            # rows past it would cover this commit's and hide them
            spans = self._fs_spans()
            if spans is not None and self._horizon_of(spans) > self._flushed:
                raise StoreError(
                    f"parquet log {self.path}: another writer committed "
                    f"ids from {self._flushed} on since this store read it"
                )
        held = 0 if start is None else self._flushed - start
        roll = held + batch.num_rows > TAIL_ROWS
        if start is None and roll:
            # too big for a tail and no tail to roll: straight to a part
            _write_part(
                self.path, pa.Table.from_batches([batch]), self._flushed,
                durable=False,
            )
            self._flushed += batch.num_rows
            return True
        if start is None:
            start, self._tail_bytes = self._flushed, 0
        with self._locked_tail(start, create=self._tail_start is None) as fd:
            if fd is None:
                self._tail_start, self._tail_bytes = None, 0
                return False
            self._tail_start = start
            st = os.fstat(fd)
            if st.st_size != self._tail_bytes:
                self._cut_tail(fd, st.st_size)
            if roll:
                path = self._tail_path(start)
                table = _tail_table(_read_tail(path)[0], (batch,))
                _write_part(self.path, table, start, durable=True)
                self._flushed = start + table.num_rows
                self._tail_start, self._tail_bytes = None, 0
                os.unlink(path)
                return True
            buf = batch.serialize()
            data = memoryview(buf)
            while data:
                data = data[os.write(fd, data):]
        old = (start, self._tail_bytes, st.st_ino)
        self._tail_bytes += buf.size
        self._flushed += batch.num_rows
        # an own append moves the signature it was proven under
        c = self._dir_sig_cache
        if c is not None and c[0] == old:
            self._dir_sig_cache = (
                (start, self._tail_bytes, st.st_ino), c[1]
            )
        return True

    def _cut_tail(self, fd: int, size: int) -> None:
        """Truncate the locked tail back to the bytes this store has
        read, dropping a torn last message.  Raises StoreError when it
        holds complete commits this store has not read: another
        writer committed ids this store is about to reuse."""
        if size < self._tail_bytes or _read_tail(
            self._tail_path(self._tail_start), self._tail_bytes
        )[0]:
            raise StoreError(
                f"parquet log {self.path}: another writer committed to "
                f"{_tail_name(self._tail_start)} since this store read it"
            )
        os.ftruncate(fd, self._tail_bytes)

    def compact(self) -> None:
        """Merge the parts and the tail into ONE part file — the
        background compactor the log format anticipates (see the
        class docstring; libaddb's analog merges small append files).
        Row content, ids and the fs horizon are unchanged; only the
        file count drops, so every downstream scan stops paying
        per-file footer/open overhead.  Skips foreign layouts (files
        outside the part-<start>-<count> naming, e.g. a Spark-written
        bulk import) and parts whose row counts disagree with their
        names; a log with a missing part raises StoreError
        (_fs_spans).  The tail is locked from its read to its unlink,
        so an append another store makes meanwhile waits, then
        starts a new tail after the merged part.

        Crash rule: the merged part lands durably (fsync, rename,
        directory fsync) before any old part or the tail is unlinked,
        so a crash leaves either the old files alone or the merged
        part beside some of the files it covers; _fs_spans ignores
        covered files and ``attach`` unlinks them."""
        spans = self._fs_spans()
        if not spans or (len(spans) == 1 and spans[0][2].startswith("part")):
            return  # foreign layout, or nothing to merge
        import pyarrow as pa
        import pyarrow.parquet as pq

        with contextlib.ExitStack() as locks:
            tables, end = [], 0
            for start, count, f in spans:
                path = os.path.join(self.path, f)
                if f.endswith(".parquet"):
                    t = pq.read_table(path)
                    if t.num_rows != count:
                        return  # a part whose name lies about its rows
                else:
                    if locks.enter_context(self._locked_tail(start)) is None:
                        return  # another store rolled it first
                    t = _tail_table(_read_tail(path)[0])
                tables.append(t)
                end = start + t.num_rows
            merged = pa.concat_tables(tables).sort_by("id")
            # the live spans chain from id 0 (_fs_spans), so the merged
            # part starts at 0
            if merged.num_rows != end:
                return  # overlapping parts: refuse a lying name
            _write_part(self.path, merged, 0, durable=True)
            self._tail_start, self._tail_bytes = None, 0
            try:
                self._unlink_parts(f for _, _, f in spans)
            finally:
                ParquetLogStore._write_epoch += 1
                self._dir_sig_cache = None
                self._mc_cache = None
                # drop the memoized lazy frame: its plan pins the old
                # file listing (content is identical, so _version
                # stays — derived caches keyed on it remain valid)
                self._df = None
                # Spark's shared file-status cache may still list the
                # old log files for this path; drop those entries so
                # the next scan plans against the compacted layout
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
        # rebuild the id indexes over the surviving suffix
        for index in (
            self._value_ids, self._name_ids, self._vnorm_ids,
            self._word_ids, self._ptr_ids, self._lin_ids,
        ):
            index.clear()
        for p in self.rows:
            self._index_prim(p)

    # -- lookups: ids below _base through Spark, the rest from the mirror

    #: max rows a lookup below the mirror COLLECTS; a hotter key
    #: streams the same scan instead (toLocalIterator, one partition
    #: at a time), so a key= / unique= write against a value shared by
    #: millions of primitives never pulls them into one driver buffer
    #: (the reference iterates its hmap bin lazily: libpdb/pdb-hash.c)
    POINT_LOOKUP_BOUND = 1024

    def _below(self, where) -> Iterator[Primitive]:
        """The log rows with ``id < _base`` that match ``where`` (a
        Spark condition over the stored, su_encode'd columns), in id
        order, each decoded once by _prims_of.  Every lookup on a
        partial mirror yields these, then the mirror's own answer: a
        row at or past ``_base`` comes only from the mirror."""
        scan = (
            self._log_df().filter(where & (F.col("id") < self._base))
            .orderBy("id")
        )
        rows = scan.limit(self.POINT_LOOKUP_BOUND + 1).collect()
        if len(rows) > self.POINT_LOOKUP_BOUND:
            rows = scan.toLocalIterator()
        rows = iter(rows)
        while chunk := list(itertools.islice(rows, self.POINT_LOOKUP_BOUND)):
            yield from _prims_of(_rows_batch(chunk))

    def get(self, guid: str) -> Optional[Primitive]:
        p = self.by_guid.get(guid)
        if p is None and self._base:
            p = next(self._below(F.col("guid") == guid), None)
        return p

    def successor(self, guid: str) -> Optional[str]:
        nxt = self.next_version.get(guid)
        if nxt is None and self._base:
            p = next(self._below(F.col("prev") == guid), None)
            nxt = None if p is None else p.guid
        return nxt

    def ts_of_id(self, id: int) -> int:
        """Timestamp point read (the bsearch reads ~log2(n) of these):
        below the mirror, from the log file that holds ``id`` through
        pyarrow, or through Spark for a foreign layout."""
        if id >= self._base:
            return super().ts_of_id(id)
        spans = self._fs_spans()
        if spans is None:
            return next(self._below(F.col("id") == id)).timestamp
        span = spans[bisect.bisect_right([s[0] for s in spans], id) - 1]
        try:
            rows, i, _ = self._span_rows(span, ["id", "timestamp"], id)
        except FileNotFoundError:  # rolled or compacted since the listing
            return self.ts_of_id(id)
        if rows.column("id")[i].as_py() != id:
            raise StoreError(f"parquet log {self.path}: {span[2]} "
                             f"does not hold id {id} at its place")
        return rows.column("timestamp")[i].as_py()

    def last_primitive(self) -> Optional[Primitive]:
        if self.rows or not self._base:
            return super().last_primitive()
        return next(self._below(F.col("id") == self._base - 1), None)

    def find_by_value(self, value: str) -> Iterator[Primitive]:
        if self._base:
            yield from self._below(
                F.lower(F.col("value")) == su_encode(value).lower()
            )
        yield from super().find_by_value(value)

    def find_by_name(self, name: str) -> Iterator[Primitive]:
        if self._base:
            yield from self._below(
                F.lower(F.col("name")) == su_encode(name).lower()
            )
        yield from super().find_by_name(name)

    def lineage_members(self, lineage: str) -> list[str]:
        """All version GUIDs of a lineage, oldest first: the ones
        below the mirror, then the mirror's chain after them."""
        out = []
        if self._base:
            out = [p.guid for p in self._below(F.col("lineage") == lineage)]
        g = self.next_version.get(out[-1]) if out else lineage
        while g in self.by_guid:
            out.append(g)
            g = self.next_version.get(g)
        return out

    def iter_all(self) -> Iterator[Primitive]:
        if self._base:
            return self.iter_range(0, self.next_id)
        return super().iter_all()

    def iter_range(self, start: int, end: int) -> Iterator[Primitive]:
        if start < min(end, self._base):
            id = F.col("id")
            yield from self._below((id >= start) & (id < end))
        yield from super().iter_range(start, end)

    # -- Spark view -------------------------------------------------------

    def to_df(self, spark=None):
        spark = spark if spark is not None else self._spark()
        if self._df is not None and self._df_version == self._version:
            return self._df
        df = self._log_df()
        if self._txn_start is not None:
            # defensive: txn rows are never flushed before commit, but
            # make the read horizon explicit anyway
            df = df.filter(F.col("id") < self._txn_start)
        self._df = df
        self._df_version = self._version
        return self._df

    def save_parquet(self, spark, path: str, partitions: int = 1) -> None:
        if os.path.abspath(path) == os.path.abspath(self.path):
            return  # already the log
        super().save_parquet(spark, path, partitions)
