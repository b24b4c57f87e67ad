"""Core data model: GUIDs, graph timestamps, datatypes, primitive schema.

The reference stores the whole database as fixed-shape tuples
("primitives", ref doc/gr-model.txt:10-17).  This module defines the
value-level codecs that must match the reference byte-for-byte:

- GUID: 128-bit = database id + 34-bit serial, rendered as 32 hex chars
  (ref libgraph/graph.h:205-244, libgraph/graph-guid.c
  graph_guid_from_db_serial).
- graph timestamp: 48-bit ``time_t << 16 | seq`` (ref
  libgraph/graph.h:375-425), rendered ISO-8601 with a 4-digit
  sub-second sequence (ref libgraph/graph-timestamp.c
  graph_timestamp_to_string).
- datatypes: small-int enum with symbolic names (ref
  doc/gr-protocol.txt:492-528).
- the Spark schema of the ``primitives`` table (SURVEY.md §1.4).

Predictable ("boring") mode constants: database id 0x123456 (ref
libpdb/pdb-initialize.c:409) and timestamp = primitive count in 100µs
ticks (ref graphd/graphd.c graphd_set_time).
"""

from __future__ import annotations

import calendar
import operator
import time
from dataclasses import dataclass

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PREDICTABLE_DB_ID = 0x123456

#: datatype enum (ref doc/gr-protocol.txt:492-528, libgraph/graph.h:296-365)
DATATYPE_NAMES = {
    1: "null",
    2: "string",
    3: "integer",
    4: "float",
    5: "guid",
    6: "timestamp",
    7: "url",
    8: "bytestring",
    9: "boolean",
}
DATATYPE_CODES = {v: k for k, v in DATATYPE_NAMES.items()}


#: private-use marker for bytes that aren't valid UTF-8: graphd stores
#: raw bytes; Python reads them as surrogateescape lone surrogates,
#: which the JVM/Arrow cannot carry.  su_encode maps each onto
#: U+E000 + 2 hex digits crossing into Spark/parquet, su_decode
#: restores them at reply rendering (test/unit/ben2.sh stores broken
#: UTF-8 markup and dumps it back byte-for-byte).
_SU_MARK = "\ue000"


def su_encode(s: str) -> str:
    if s.isascii() or not any("\udc80" <= ch <= "\udcff" for ch in s):
        return s
    return "".join(
        "%s%02x" % (_SU_MARK, ord(ch) & 0xFF)
        if "\udc80" <= ch <= "\udcff" else ch
        for ch in s
    )


def su_decode(s: str) -> str:
    if _SU_MARK not in s:
        return s
    out = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == _SU_MARK and i + 3 <= n:
            try:
                out.append(chr(0xDC00 | int(s[i + 1:i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(ch)
        i += 1
    return "".join(out)


#: database-name alphabet (libpdb/pdb-set-database-name.c)
_DB_NAME_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789-"


def db_id_from_name(name: str) -> int:
    """Database id from a <=7 char name: base-38 over [a-z0-9-] with a
    0xFF marker byte injected to keep name-ids disjoint from ip-derived
    ids (ref libpdb/pdb-set-database-name.c pdb_database_name_to_id;
    test/unit/dbname.sh: "METAWEB" -> 0x87ed8ff0d61)."""
    acc = 0
    for c in name[:7]:
        ch = c.lower() if c.isascii() and c.isalnum() else "-"
        acc = acc * 38 + _DB_NAME_ALPHABET.index(ch)
    return ((acc & ~0xFFFF) << 8) | (0xFF << 16) | (acc & 0xFFFF)


def guid_compose(db: int, serial: int) -> str:
    """db + serial -> 32-hex GUID (ref graph_guid_from_db_serial)."""
    a = ((db >> 16) << 32) | (4 << 28) | (db & 0xFFFF)
    b = (2 << 62) | (serial & ((1 << 34) - 1))
    return f"{a:016x}{b:016x}"


def guid_serial(guid: str) -> int:
    """Extract the 34-bit serial (ref GRAPH_GUID_SERIAL)."""
    b = int(guid[16:], 16)
    return b & ((1 << 34) - 1)


def guid_db(guid: str) -> int:
    """Extract the database id (ref GRAPH_GUID_DB)."""
    a = int(guid[:16], 16)
    return ((a >> 32) << 16) | (a & 0xFFFF)


def guid_normalize(text: str) -> str | None:
    """Parse a GUID literal; '0'/'null' mean the null GUID (-> None).

    Ref graph_guid_from_string: 32-hex, or '0'/'null' synonyms.
    """
    t = text.strip().lower()
    if t in ("0", "null"):
        return None
    if len(t) != 32 or any(c not in "0123456789abcdef" for c in t):
        raise ValueError(f"bad GUID literal: {text!r}")
    return t


# --- graph timestamps (48-bit: time_t << 16 | seq) ----------------------


def ts_make(seconds: int, seq: int) -> int:
    return (seconds << 16) | (seq & 0xFFFF)


def ts_predictable(count: int) -> int:
    """Predictable-mode timestamp for the count-th primitive.

    Ref graphd/graphd.c graphd_set_time: MAKE(count/10000, count%10000).
    """
    return ts_make(count // 10000, count % 10000)


def ts_to_string(ts: int) -> str:
    """Render like graph_timestamp_to_string: %Y-%m-%dT%H:%M:%S.%04dZ."""
    secs = ts >> 16
    seq = ts & 0xFFFF
    tm = time.gmtime(secs)
    return (
        f"{tm.tm_year}-{tm.tm_mon:02d}-{tm.tm_mday:02d}"
        f"T{tm.tm_hour:02d}:{tm.tm_min:02d}:{tm.tm_sec:02d}.{seq:04d}Z"
    )


def _short_year(year: int, ndigits: int) -> int:
    """2-/3-digit year adjustment (ref graph-timestamp.c:131-136)."""
    if ndigits <= 2 and year < 50:
        return year + 2000
    if ndigits <= 3 and year < 150:
        return year + 1900
    return year


def ts_from_string(s: str, round_up: bool = False) -> int:
    """Parse a timestamp literal (ref graph_timestamp_from_string,
    libgraph/graph-timestamp.c:123-260).

    Accepted forms:
    - ``YY[YY[Y]]-MM-DD[T ]HH:MM:SS.NNNN[Z]`` and any dashed prefix of
      it (``2005``, ``2005-02``, ...); 1-2 digit month/day/... fields;
      short years get +2000/+1900.
    - a long all-digit string >= 200 years of seconds: compact
      ``YYYYMMDDHHMMSS`` date-time.
    - a shorter all-digit string: seconds since the epoch.
    Unspecified parts default to their minimum (or maximum when
    ``round_up`` — used for the upper end of range comparisons).

    Raises ValueError on malformed or out-of-range (not 1970..2105)
    input, mirroring GRAPH_ERR_LEXICAL/SEMANTICS.
    """
    t = s.strip()
    if t.endswith(("Z", "z")):
        t = t[:-1]
    if t.isdigit() and len(t) > 5:
        num = int(t)
        frac = 0
        if num >= 200 * 365 * 24 * 60 * 60:
            # compact date-without-dashes, e.g. 20050221230055
            num, sec = divmod(num, 100)
            num, minute = divmod(num, 100)
            num, hour = divmod(num, 100)
            num, day = divmod(num, 100)
            year, mon = divmod(num, 100)
            year = _short_year(year, 4)
            if sec > 60 or minute > 60 or hour > 23 or day > 31 or mon > 12:
                raise ValueError(f"bad compact timestamp {s!r}")
        else:
            # seconds since the epoch
            tm = time.gmtime(num)
            year, mon, day = tm.tm_year, tm.tm_mon, tm.tm_mday
            hour, minute, sec = tm.tm_hour, tm.tm_min, tm.tm_sec
        if not 1970 <= year < 2106:
            raise ValueError(f"timestamp year out of range: {s!r}")
        secs = calendar.timegm((year, mon, day, hour, minute, sec, 0, 0, 0))
        return ts_make(secs, frac)

    # dashed/structured form; 'T' or ' ' separates date and time
    date_part, _, time_part = (
        t.partition("T") if "T" in t else t.partition(" ")
    )
    dfields = date_part.split("-") if date_part else []
    tfields = time_part.split(":") if time_part else []
    sec_str, _, frac = (tfields[2] if len(tfields) > 2 else "").partition(".")

    def pick(val: str, lo: int, hi: int) -> int:
        if val == "":
            return hi if round_up else lo
        if not val.isdigit():
            raise ValueError(f"bad timestamp field {val!r} in {s!r}")
        return int(val)

    if not dfields or not dfields[0].isdigit() or len(dfields[0]) > 5:
        raise ValueError(f"bad timestamp {s!r}")
    year = _short_year(int(dfields[0]), len(dfields[0]))
    if not 1970 <= year < 2106:
        raise ValueError(f"timestamp year out of range: {s!r}")
    mon = pick(dfields[1] if len(dfields) > 1 else "", 1, 12)
    day_hi = calendar.monthrange(year, mon)[1]
    day = pick(dfields[2] if len(dfields) > 2 else "", 1, day_hi)
    hour = pick(tfields[0] if len(tfields) > 0 else "", 0, 23)
    minute = pick(tfields[1] if len(tfields) > 1 else "", 0, 59)
    sec = pick(sec_str, 0, 59)
    if frac == "":
        seq = 0xFFFF if round_up else 0
    else:
        seq = int(frac)
    secs = calendar.timegm((year, mon, day, hour, minute, sec, 0, 0, 0))
    return ts_make(secs, seq)


# --- the primitives table ------------------------------------------------

#: Spark schema of the primitive store (SURVEY.md §1.4).  ``lineage`` and
#: ``generation`` are append-time enrichments that make the reference's
#: generation index (libpdb/pdb-hmap gen map) a plain column: newest=0
#: matching becomes a window/anti-join on ``lineage`` instead of a
#: recursive prev-chain walk — the design that scales on Spark.
PRIMITIVES_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("guid", StringType(), False),
        StructField("typeguid", StringType(), True),
        StructField("left", StringType(), True),
        StructField("right", StringType(), True),
        StructField("scope", StringType(), True),
        StructField("prev", StringType(), True),
        # lineage-canonical linkage pointers: a GUID reference denotes
        # the whole version chain (ref doc/gr-model.txt:47-50 "find the
        # current version of any GUID in constant time"), so joins run
        # on these write-time-canonicalized columns instead of chasing
        # prev chains at read time
        StructField("typeguid_lin", StringType(), True),
        StructField("left_lin", StringType(), True),
        StructField("right_lin", StringType(), True),
        StructField("scope_lin", StringType(), True),
        StructField("name", StringType(), True),
        StructField("datatype", IntegerType(), False),
        StructField("value", StringType(), True),
        # case-folded hash-normalized value (ref pdb_hmap_value_normalize)
        # — precomputed at write time so number/datetime-comparator
        # equality is a native column comparison, like the reference's
        # hmap index
        StructField("value_norm", StringType(), True),
        # strict scientific canonical form, null when the value is not
        # a parseable number — drives number-comparator equality
        # (" 0" is NOT a number, ref graph_decode_number)
        StructField("value_num", StringType(), True),
        # order-preserving fuzzy sort key (graph_fuzzycmp encoding) —
        # default-comparator equality, ranges and sorts are native
        # binary comparisons against this column, no Python in the
        # read path
        StructField("value_fkey", BinaryType(), True),
        StructField("live", BooleanType(), False),
        StructField("archival", BooleanType(), False),
        StructField("txstart", BooleanType(), False),
        StructField("timestamp", LongType(), False),
        StructField("lineage", StringType(), False),
        StructField("generation", IntegerType(), False),
    ]
)

PRIMITIVE_FIELDS = [f.name for f in PRIMITIVES_SCHEMA.fields]
_ROW = operator.attrgetter(*PRIMITIVE_FIELDS)
_NAME_AT = PRIMITIVE_FIELDS.index("name")
_VALUE_AT = PRIMITIVE_FIELDS.index("value")
_VNORM_AT = PRIMITIVE_FIELDS.index("value_norm")


@dataclass
class Primitive:
    """One tuple of the store (driver-side representation)."""

    id: int
    guid: str
    typeguid: str | None = None
    left: str | None = None
    right: str | None = None
    scope: str | None = None
    prev: str | None = None
    typeguid_lin: str | None = None
    left_lin: str | None = None
    right_lin: str | None = None
    scope_lin: str | None = None
    name: str | None = None
    datatype: int = 1
    value: str | None = None
    value_norm: str | None = None
    value_num: str | None = None
    value_fkey: bytes | None = None
    live: bool = True
    archival: bool = True
    txstart: bool = False
    timestamp: int = 0
    lineage: str = ""
    generation: int = 0

    def as_row(self) -> tuple:
        """The PRIMITIVES_SCHEMA row; name, value and value_norm
        su_encode'd."""
        row = _ROW(self)
        if self.name is None and self.value is None:
            return row
        row = list(row)
        if self.name is not None:
            row[_NAME_AT] = su_encode(self.name)
        if self.value is not None:
            row[_VALUE_AT] = su_encode(self.value)
            if self.value_norm is not None:
                row[_VNORM_AT] = su_encode(self.value_norm)
        return tuple(row)

    @property
    def is_link(self) -> bool:
        """A primitive with a left is a link (ref doc/gr-model.txt:164-183)."""
        return self.left is not None
