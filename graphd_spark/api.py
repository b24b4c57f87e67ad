"""GraphSession: the protocol-level engine entry point.

One session = one database.  ``request(line)`` takes a protocol
request exactly as the reference's TCP loop would (ref
doc/gr-protocol.txt:47-69) and returns the reply line — this is what
the golden-test harness drives, mirroring test/unit/rungraphd.

Dispatch (ref graphd/graphd-request-run.c:287-368): write requests run
the driver-side append pipeline (single-writer OLTP path); read
requests compile to a DataFrame plan and execute on Spark.
"""

from __future__ import annotations

from typing import Optional

from graphd_spark.compiler import Compiler
from graphd_spark.fastread import FastReader, Unsupported
from graphd_spark.gql.lexer import LexError
from graphd_spark.gql.parser import ParseError, parse_request
from graphd_spark.gql.prepared import ShapeCache
from graphd_spark.pattern import (
    Assembler,
    GraphdError,
    default_write_pattern,
)
from graphd_spark.store import PrimitiveStore, StoreError
from graphd_spark.typesys import TypeSystem
from graphd_spark.model import guid_compose, guid_serial
from graphd_spark.values import (
    Guid,
    List,
    Splice,
    escape_string,
    join_values,
    render,
)
from graphd_spark.write import WriteError, WriteExecutor, WriteNode


def _ship_package(spark) -> None:
    """Make graphd_spark importable on executors.

    Python workers don't inherit the driver's sys.path, so
    module-level functions referenced from pandas UDFs (the glob
    matcher, comparator keys) would fail to unpickle.  Shipping the
    package once per session via addPyFile fixes every worker."""
    sc = spark.sparkContext
    if getattr(sc, "_graphd_pkg_shipped", False):
        return
    import os
    import tempfile
    import zipfile

    import graphd_spark

    pkgdir = os.path.dirname(os.path.abspath(graphd_spark.__file__))
    root = os.path.dirname(pkgdir)
    fd, zpath = tempfile.mkstemp(suffix="_graphd_spark.zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkgdir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._graphd_pkg_shipped = True


class GraphSession:
    def __init__(self, spark=None, log_path=None, cache_rows=None):
        """``log_path`` selects the parquet-log store backend (the
        scale path: reads plan against ``spark.read.parquet(log)``,
        commits append to the log's Arrow tail, and the driver keeps
        at most ``cache_rows`` primitives).  Default is the in-memory
        store (tests / staging)."""
        self.spark = spark
        self.log_path = log_path
        self.cache_rows = cache_rows
        if spark is not None:
            _ship_package(spark)
        self.store = self.fresh_store()
        self.types = TypeSystem(self.store)
        self._init_caches()

    def _init_caches(self) -> None:
        """The session's prepared-parse cache (``attach`` skips
        ``__init__``)."""
        self._shape_cache = ShapeCache(
            lambda l, t: parse_request(l, toks=t)
        )

    def fresh_store(self) -> PrimitiveStore:
        """A new empty store of this session's configured backend
        (restore-from-0 replaces the store through this)."""
        if self.log_path is None:
            return PrimitiveStore()
        from graphd_spark.store import ParquetLogStore

        return ParquetLogStore(
            self._require_spark,
            self.log_path,
            fresh=True,
            cache_rows=self.cache_rows,
        )

    @classmethod
    def attach(cls, spark, log_path: str) -> "GraphSession":
        """Open an existing parquet log without loading it onto the
        driver (the 100-TB entry point: only the last row's id and
        guid are read, see ``ParquetLogStore.attach``)."""
        from graphd_spark.store import ParquetLogStore

        sess = cls.__new__(cls)
        sess.spark = spark
        sess.log_path = log_path
        sess.cache_rows = None
        _ship_package(spark)
        sess.store = ParquetLogStore.attach(spark, log_path)
        sess.types = TypeSystem(sess.store)
        sess._init_caches()
        return sess

    def _require_spark(self):
        if self.spark is None:
            from graphd_spark.session import get_spark

            self.spark = get_spark("graphd_engine")
            _ship_package(self.spark)
        return self.spark

    # -- protocol ----------------------------------------------------------

    def request(self, line: str) -> str:
        """One request line in, one reply line out."""
        if not line.strip():
            return ""
        # keep LEADING newlines: error positions count blank lines in
        # the request buffer ("on line 2, column 1", nonsense.in)
        line = line.lstrip(" \t").rstrip()
        if line.startswith("\n"):
            keep = len(line) - len(line.lstrip("\n"))
            line = line[:keep] + line[keep:].lstrip(" \t")
        # 1. raw-line shape serving: a known read template is patched
        # straight from the raw line — no tokenize at all (the
        # dominant cold-template cost).  Lines mentioning "cursor"
        # anywhere take the token path so cursor-chain pages keep
        # sharing one cursorless eval-cache key.  The ("raw", line)
        # key is exact (the line IS the query) and, being a tuple,
        # can never collide with the token path's string keys.
        shape = self._shape_cache
        req = toks = read_key = None
        if (
            self.prepared_shapes_enabled
            and line[:4].lower() == "read"
            and (
                len(line) == 4
                or not (line[4].isalnum() or line[4] in "_-")
            )
            and "cursor" not in line
        ):
            req = shape.serve_raw(line)
            if req is not None:
                read_key = ("raw", line)
        if req is None:
            from graphd_spark.gql.lexer import tokenize

            try:
                toks = tokenize(line)
                if all(t.kind == "end" for t in toks):
                    return ""  # comment-only input: no reply
            except LexError:
                toks = None  # the parser below reports it
            # 2. prepared-parse shape serving: a read whose template
            # SHAPE repeats re-binds its string literals into the
            # cached parse instead of re-parsing — see gql/prepared.py
            # for the derivation/validation safety model
            prepared = (
                self.prepared_shapes_enabled
                and toks is not None
                and toks[0].matches("read")
            )
            if prepared:
                req = shape.serve(toks, line=line)
            # 3. full parse
            if req is None:
                try:
                    req = parse_request(line, toks=toks)
                except (ParseError, LexError) as e:
                    code = getattr(e, "code", "SYNTAX")
                    return self._error(
                        code, str(e), self._id_of_line(line),
                        extra=self._dateline_echo_of_line(line),
                    )
                if prepared:
                    shape.observe(line, toks, req)
            if req.command == "read" and toks is not None:
                read_key = self._cursorless_key(toks)
        rid = req.modifiers.get("id")
        # modifiers echo per occurrence, in request order (ref
        # test/unit/param-order.sh); dateline echoes resolve to the
        # horizon AFTER the command ran, so they stay placeholders
        echoes: list = []

        def _resolved() -> Optional[str]:
            out = []
            for e in echoes:
                if e == ("dateline",):
                    out.append(
                        'dateline="{}"'.format(self._dateline_string())
                    )
                else:
                    out.append(e)
            return " ".join(out) if out else None

        for name, val in getattr(req, "modifier_seq", []):
            if name == "id":
                echoes.append(f'id="{escape_string(val)}"')
            elif name == "cost":
                err = self._parse_cost_modifier(val)
                # the reply echoes the effective cost string — even
                # for the failing occurrence; this build runs uncapped
                # (test/unit/param-order.sh pipes through sed, so any
                # cost="..." matches)
                echoes.append('cost=""')
                if err is not None:
                    return self._error(
                        "SYNTAX", err, None, extra=_resolved()
                    )
            elif name == "dateline":
                if val:
                    t = val.strip().lower()
                    inst = ""
                    if "," in t:
                        # "instance,dateline" form (instance-id.sh)
                        inst, _, t = t.rpartition(",")
                    db, _, count = t.rpartition(".")
                    hexish = "0123456789abcdef"
                    valid = (
                        len(t) == 32 and all(c in hexish for c in t)
                    ) or (
                        db and count
                        and all(c in hexish for c in db + count)
                    )
                    if valid:
                        # instance + horizon validation: the dateline
                        # must name this server's instance and not lie
                        # in its future (ref test/unit/instance-id.sh)
                        serial = (
                            guid_serial(t) if len(t) == 32
                            else int(count, 16)
                        )
                        if (
                            inst != self._settings()["instance-id"]
                            or serial > self.store.next_id
                        ):
                            echoes.append(("dateline",))
                            return self._error(
                                "DATELINE",
                                "your dateline is not valid on "
                                "this server",
                                None,
                                extra=_resolved(),
                            )
                    if not valid:
                        # ref graph-dateline.c parse failure (tests
                        # now, dateline-1): the echo pins horizon 0
                        import re as _re

                        m = _re.search(r'dateline\s*=\s*"', line)
                        col = (m.end() if m else 0) or 1
                        echoes.append('dateline="{}"'.format(
                            guid_compose(self.store.db_id, 0)
                        ))
                        return self._error(
                            "SYNTAX",
                            f'on line 1, column {col}: "{val}": '
                            "invalid dateline value",
                            None,
                            extra=_resolved(),
                        )
                echoes.append(("dateline",))
        if echoes:
            rid = None  # id echoes ride in the ordered list instead
        try:
            if req.command == "write":
                val = self._do_write(req)
                return self._ok(val, rid, _resolved())
            if req.command == "read":
                val = self._do_read(req, read_key=read_key)
                return self._ok(val, rid, _resolved())
            if req.command == "sync":
                # checkpoint + horizon echo (ref graphd-sync.c:65-68,
                # doc/gr-protocol.txt:1440-1456: sync-response = "ok"
                # horizon).  Every commit here is already durably
                # flushed, so the checkpoint itself is a no-op and the
                # horizon is the next istore id (= primitives written)
                from graphd_spark.values import Num

                return self._ok(Num(self.store.next_id), rid, _resolved())
            if req.command == "iterate":
                # iterator self-tests (ref graphd-iterate.c): no
                # analog needed; the reference replies "ok " bare
                lead = _resolved()
                if lead is None and rid is not None:
                    lead = f'id="{escape_string(rid)}"'
                return "ok " if lead is None else f"ok {lead} "
            if req.command == "status":
                return self._ok(self._do_status(req), rid, _resolved())
            if req.command == "set":
                self._do_set(req)
                return self._ok(None, rid, _resolved())
            if req.command == "verify":
                return self._ok(self._do_verify(req), rid, _resolved())
            if req.command == "dump":
                from graphd_spark.dump import do_dump

                return self._ok(do_dump(self, req), rid, _resolved())
            if req.command == "restore":
                from graphd_spark.dump import do_restore

                return self._ok(do_restore(self, req), rid, _resolved())
            if req.command == "replica-write":
                from graphd_spark.dump import do_restore

                do_restore(self, req, replica=True)
                return self._ok(None, rid, _resolved())
            if req.command == "replica":
                # "rok" instead of "ok" for replica replies (ref
                # graphd-request-output.c:1502)
                return "r" + self._ok(
                    self._do_replica(req), rid, _resolved()
                )
            raise GraphdError(
                "SEMANTICS", f"unsupported command {req.command!r}"
            )
        except (GraphdError, WriteError) as e:
            return self._error(e.code, e.message, rid, extra=_resolved())
        except StoreError as e:
            return self._error(e.code, e.message, rid, extra=_resolved())

    def request_script(self, text: str) -> list[str]:
        """Run a batch of newline-separated requests (rungraphd -y)."""
        return [
            self.request(line)
            for line in text.splitlines()
            if line.strip()
        ]

    def _id_of_line(self, line: str) -> Optional[str]:
        # best-effort id= echo for lines that failed to parse
        import re

        m = re.search(r'\bid="((?:[^"\\]|\\.)*)"', line)
        return m.group(1) if m else None

    def _dateline_echo_of_line(self, line: str) -> Optional[str]:
        # dateline="" requests echo the horizon even on errors
        import re

        from graphd_spark.model import guid_compose

        if re.search(r'\bdateline=""', line):
            return 'dateline="{}"'.format(self._dateline_string())
        return None

    # -- commands ----------------------------------------------------------

    def _do_write(self, req):
        # result= patterns validate before anything allocates (the
        # failing write in test/unit/writeresult.sh burns no ids)
        for c in req.constraint.walk():
            if c.result is not None:
                for p in c.result.walk():
                    if p.kind not in self._WRITE_RESULT_KINDS:
                        raise GraphdError(
                            "SEMANTICS",
                            f"cannot use {p.kind} as a write result, "
                            "only literal=, guid, contents, or none",
                        )
        had_boot = self.types.attribute_has_key is not None
        self.store.begin()
        try:
            wx = WriteExecutor(self.store, self.types)
            node = wx.execute(req.constraint)
        except Exception:
            boot_created = (
                not had_boot and self.types.attribute_has_key is not None
            )
            self.store.rollback()
            if boot_created:
                # the type-system bootstrap is its own transaction and
                # survives the failed write (ref test/unit/big1.sh:
                # the write after two TOOBIG failures starts at id 9);
                # the rollback removed the half-made core, so rebuild
                # the handles from scratch
                self.types.__init__(self.store)
                self.store.begin()
                self.types.ensure_bootstrap()
                self.store.commit()
            # a pre-existing bootstrap keeps its cached handles: the
            # reference's g_attribute_has_key et al. live for the
            # database lifetime and survive failed writes — later
            # writes may even VERSION the ROOT_NAMESPACE primitive,
            # after which a fresh bootstrap_read would fail while the
            # cached handles keep resolving type names (write-fuzz
            # seed 25: key=() cluster versions the root namespace;
            # the reference still renders "has_key")
            raise
        self.store.commit()
        return self._write_value(node)

    _WRITE_RESULT_KINDS = {"list", "literal", "guid", "contents", "none"}

    def _write_value(self, node: WriteNode):
        """Shape a write reply through its template's result= pattern
        (default: (guid contents); only literal=/guid/contents/none are
        legal — ref graphd-pattern write defaults, test writeresult)."""
        from graphd_spark.values import Atom, Empty, Splice

        con = node.con
        pat = getattr(con, "result", None) if con is not None else None
        if pat is None:
            pat = default_write_pattern()
        else:
            for p in pat.walk():
                if p.kind not in self._WRITE_RESULT_KINDS:
                    raise GraphdError(
                        "SEMANTICS",
                        f"cannot use {p.kind} as a write result, only "
                        "literal=, guid, contents, or none",
                    )

        def eval_pat(p, nd):
            k = p.kind
            if k == "guid":
                return Guid(nd.guid)
            if k == "literal":
                return Atom(p.literal) if p.literal else Empty
            if k == "none":
                return Empty
            if k == "contents":
                if p.contents_only and not nd.children:
                    return None  # default pattern: only with subs
                items = []
                for c in nd.children:
                    v = self._write_value(c)
                    if v is not Empty and v is not None:
                        items.append(v)
                return Splice(items)
            if k == "list":
                items = []
                for sub in p.children:
                    v = eval_pat(sub, nd)
                    if v is None or v is Empty:
                        continue
                    if isinstance(v, Splice):
                        items.extend(v.items)
                    else:
                        items.append(v)
                return List(items)
            return Empty

        return eval_pat(pat, node)

    #: runtime-settable properties and their boot defaults (ref
    #: graphd-status.c / graphd-set.c; test/unit/status.sh)
    _SETTING_DEFAULTS = {
        "core": "true",
        "sync": "true",
        "instance-id": "",
        "loglevel": "operator-error",
    }

    def _settings(self) -> dict:
        if not hasattr(self, "_settings_store"):
            self._settings_store = dict(self._SETTING_DEFAULTS)
        return self._settings_store

    def apply_run_controls(self, ctl: dict) -> None:
        """Per-run server settings the golden harness extracts from
        rungraphd flags/config files: ``-I name`` / ``instance-id``
        (test/unit/instance-id.sh) and ``database { id "..." }``
        (test/unit/dbname.sh) — applied at run boundaries the way a
        server restart re-reads its configuration."""
        # a restart resets runtime settings and cost limits to boot
        # defaults (the database id, once burned into the store,
        # persists on disk — pdb-initialize.c:449)
        self._settings_store = dict(self._SETTING_DEFAULTS)
        self._cost_limits = {}
        if ctl.get("reset"):
            # the database directory was wiped between runs
            # (test/unit/or2.sh: rm -rf $D mid-test)
            self.store = self.fresh_store()
            self.types.__init__(self.store)
        if "instance_id" in ctl:
            self._settings()["instance-id"] = ctl["instance_id"]
        if "db_name" in ctl:
            from graphd_spark.model import db_id_from_name

            try:
                self.store.db_id = int(ctl["db_name"], 0)
            except ValueError:
                self.store.db_id = db_id_from_name(ctl["db_name"])

    def _dateline_string(self) -> str:
        """The server's current dateline: instance-prefixed when an
        instance id is set (ref test/unit/instance-id.sh echoes)."""
        from graphd_spark.model import guid_compose

        g = guid_compose(self.store.db_id, self.store.next_id)
        inst = self._settings()["instance-id"]
        return f"{inst},{g}" if inst else g

    #: graphd_cost_limit_to_string member order (graphd-cost.c:374)
    _COST_ORDER = (
        "tr", "ts", "tu", "te", "pr", "pf", "va", "dr", "dw",
        "iw", "ir", "in",
    )

    def _cost_from_string(self, text: str) -> Optional[dict]:
        """Parse a cost-limit string of NAME=NUMBER members; only the
        first two characters of a member name are significant
        (graphd_cost_to_address, graphd-cost.c:46).  Returns None on
        any unknown member or bad number."""
        out: dict = {}
        i, n = 0, len(text)
        while True:
            while i < n and text[i].isspace():
                i += 1
            if i >= n:
                return out
            s = i
            i += 1
            if text[s].isalnum():
                while i < n and text[i].isalnum():
                    i += 1
            name = text[s:i]
            if len(name) < 2 or name[:2].lower() not in self._COST_ORDER:
                return None
            while i < n and text[i].isspace():
                i += 1
            if i < n and text[i] == "=":
                i += 1
                while i < n and text[i].isspace():
                    i += 1
            s2 = i
            while i < n and text[i].isdigit():
                i += 1
            if s2 == i:
                return None
            out[name[:2].lower()] = int(text[s2:i])

    def _parse_cost_modifier(self, text: str) -> Optional[str]:
        """Validate a cost= modifier string of `key=value` elements;
        returns the reference's error text on a malformed element
        (ref graphd-cost.c parse; test/unit/param-order.sh)."""
        i, n = 0, len(text)
        while i < n:
            while i < n and text[i].isspace():
                i += 1
            if i >= n:
                break
            start = i
            while i < n and (text[i].isalnum() or text[i] in "_-"):
                i += 1
            j = i
            while j < n and text[j].isspace():
                j += 1
            if j >= n or text[j] != "=":
                got = text[j] if j < n else ""
                return (
                    f'error parsing cost element at "{text[start:]}" '
                    f"-- expected '=', got '{got}'"
                )
            i = j + 1
            while i < n and not text[i].isspace():
                i += 1
        return None

    def _do_status(self, req):
        """status (prop ...) -> one value per requested property (ref
        graphd-status.c:972; tests status, cost1, loglevel)."""
        from graphd_spark.gql import lexer as L
        from graphd_spark.values import Atom, Str

        names = [
            t.text.lower() for t in req.rest if t.kind == L.ATOM
        ]
        settings = self._settings()
        out = []
        for n in names:
            if n in ("core", "sync"):
                out.append(Atom(settings[n]))
            elif n == "loglevel":
                out.append(List([Atom(settings["loglevel"])]))
            elif n == "cost":
                # only cost members with a set limit print, in the
                # fixed member order of graphd_cost_limit_to_string
                # (graphd-cost.c:374; tests cost1, cost2)
                limits = getattr(self, "_cost_limits", {})
                out.append(Str(" ".join(
                    f"{k}={limits[k]}"
                    for k in self._COST_ORDER if k in limits
                )))
            elif n == "instance-id":
                out.append(Str(settings["instance-id"]))
            else:
                raise GraphdError(
                    "SEMANTICS", f"unknown status property \"{n}\""
                )
        return List(out)

    def _do_set(self, req) -> None:
        """set (prop=value ...) (ref graphd-set.c; test status.sh)."""
        from graphd_spark.gql import lexer as L
        from graphd_spark.values import escape_string

        toks = [t for t in req.rest if t.kind in (L.ATOM, L.STR, L.EQ)]
        settings = self._settings()
        i = 0
        while i + 2 < len(toks) or (i + 2 == len(toks)
                                    and toks[i + 1].kind == L.EQ):
            name, eq, val = toks[i], toks[i + 1], toks[i + 2]
            i += 3
            if eq.kind != L.EQ:
                raise GraphdError("SYNTAX", "expected '=' in set")
            n = name.text.lower()
            if n == "cost":
                parsed = self._cost_from_string(val.text)
                if parsed is None:
                    # any unknown member rejects the whole string
                    # (graphd-set.c; cost1: "mm"/"mt" are unknown)
                    raise GraphdError(
                        "SEMANTICS",
                        "cannot parse cost string "
                        f'"{escape_string(val.text)}"',
                    )
                self._cost_limits = parsed
                continue
            settings[n] = val.text

    def _do_replica(self, req):
        """replica (version=1 start-id=N [check-master]) — a replica
        announcing itself to this master (ref libgdp/gdp-parse.c:2773,
        graphd-replica.c graphd_replica).  Replies ("1" <write-master
        -url>); the write-master url is empty for a directly-writable
        master.  The catch-up stream the reference then pushes is
        served here by :meth:`replica_feed` / the Structured-Streaming
        analog in streaming.py."""
        from graphd_spark.gql import lexer as L
        from graphd_spark.values import Str

        toks = list(req.rest)
        version = None
        start_id = 0
        i = 0
        while i < len(toks):
            t = toks[i]
            if t.kind == L.ATOM and t.text.lower() == "version":
                if i + 2 < len(toks) and toks[i + 1].kind == L.EQ:
                    version = toks[i + 2].text
                    i += 3
                    continue
            if t.kind == L.ATOM and t.text.lower() == "start-id":
                if i + 2 < len(toks) and toks[i + 1].kind == L.EQ:
                    try:
                        start_id = int(toks[i + 2].text, 0)
                    except ValueError:
                        raise GraphdError(
                            "SYNTAX", "expected a numerical value"
                        )
                    i += 3
                    continue
            i += 1
        if version is None:
            raise GraphdError("SEMANTICS", "missing version number")
        if version != "1":
            raise GraphdError("SEMANTICS", "version not supported")
        n = self.store.count()
        if start_id > n:
            raise GraphdError(
                "SEMANTICS",
                f"cannot start replication at {start_id:x}; this "
                f"server only has primitives up to {n:x}",
            )
        return List([Str("1"), Str("")])

    def replica_feed(self, start_id: int) -> list[str]:
        """The master-side catch-up stream: ``replica-write`` request
        lines covering ids [start', count), where start' backs up 256
        primitives so the replica can verify the overlap (ref
        graphd-replica.c:1137-1143).  A real deployment tails the
        parquet commit log with streaming.py instead; this is the
        protocol rendering of the same feed."""
        from graphd_spark.dump import _tuple_value
        from graphd_spark.values import render

        lo = start_id - 256 if start_id > 256 else (1 if start_id else 0)
        hi = self.store.count()
        if lo >= hi:
            return []
        parts = [f"replica-write ({lo} {hi}"]
        for p in self.store.iter_range(lo, hi):
            parts.append(" " + render(_tuple_value(self, p)))
        parts.append(")")
        return ["".join(parts)]

    def _do_verify(self, req):
        """verify: index/store consistency as one Spark assertion job
        (ref graphd-verify.c:92-102, libpdb/pdb-verify.c).  Output is
        (n (guid "errors") ...) with n = broken primitive count.

        Checks: guid serial == id, prev target exists, lineage head
        exists, generation == prev generation + 1, and linkage-
        canonical columns point at real lineages.
        """
        from pyspark.sql import functions as F

        from graphd_spark.values import Guid, Num, Str

        spark = self._require_spark()
        df = self.store.to_df(spark)
        g = df.select(
            "id", "guid", "prev", "lineage", "generation"
        )
        checks = []
        # guid serial (low 34 bits = last 9 hex digits masked) must
        # equal the local id
        ser = (
            F.conv(F.substring("guid", 24, 9), 16, 10)
            .cast("long")
            .bitwiseAND(F.lit((1 << 34) - 1))
        )
        bad_serial = g.filter(ser != F.col("id")).select(
            "guid", F.lit("guid/id mismatch").alias("err")
        )
        checks.append(bad_serial)
        # prev must exist and precede
        prevs = g.filter(F.col("prev").isNotNull()).alias("a")
        tgt = g.select(F.col("guid").alias("t_guid"),
                       F.col("generation").alias("t_gen"))
        joined = prevs.join(
            tgt, F.col("a.prev") == F.col("t_guid"), "left"
        )
        checks.append(
            joined.filter(F.col("t_guid").isNull()).select(
                F.col("a.guid").alias("guid"),
                F.lit("dangling prev").alias("err"),
            )
        )
        checks.append(
            joined.filter(
                F.col("t_guid").isNotNull()
                & (F.col("a.generation") != F.col("t_gen") + 1)
            ).select(
                F.col("a.guid").alias("guid"),
                F.lit("generation skew").alias("err"),
            )
        )
        # lineage head must exist as generation 0
        heads = g.select(F.col("guid").alias("h_guid")).where(
            F.col("generation") == 0
        )
        checks.append(
            g.join(
                heads, F.col("lineage") == F.col("h_guid"), "left_anti"
            ).select("guid", F.lit("missing lineage head").alias("err"))
        )
        bad = checks[0]
        for c in checks[1:]:
            bad = bad.unionByName(c)
        rows = bad.limit(1000).collect()
        items = [Num(len(rows))]
        for r in rows:
            items.append(List([Guid(r["guid"]), Str(r["err"])]))
        return List(items)

    #: serving fast path (fastread.py): simple template reads over a
    #: driver-resident store answer from point indexes with no Spark
    #: job; anything unsupported falls back to the DataFrame compiler.
    #: Class attribute so tests can force either path.
    fast_read_enabled = True

    #: prepared-parse shape cache (gql/prepared.py): repeated read
    #: SHAPES re-bind their string literals into the cached parse.
    #: Class attribute so tests/benchmarks can measure the full-parse
    #: floor.
    prepared_shapes_enabled = True

    @staticmethod
    def _cursorless_key(toks) -> str:
        """Eval-cache key from the token stream with the root-level
        `cursor=...` field elided: every page of a cursor chain maps
        to one key.  Token-level elision respects string-literal
        boundaries — a raw-text regex could match `cursor="` INSIDE a
        value literal and collapse two different queries onto one key
        (e.g. `(value="acursor=" name="n1")` vs `(value="an1")`).
        """
        parts = []
        depth = 0
        i, n = 0, len(toks)
        while i < n:
            t = toks[i]
            k = t.kind
            if k == "(":
                depth += 1
            elif k == ")":
                depth -= 1
            elif (
                depth == 1
                and k == "atom"
                and i + 2 < n
                and toks[i + 1].kind == "="
                and toks[i + 2].kind in ("str", "atom")
                and t.text.lower() == "cursor"
            ):
                i += 3
                continue
            parts.append(k)
            parts.append(t.text)
            i += 1
        return "\x00".join(parts)

    def _do_read(self, req, read_key=None):
        asof = req.modifiers.get("asof")
        if (
            self.fast_read_enabled
            and getattr(self.store, "_covers_all", True)
            and self.store.mirror_current()
        ):
            # the store's eval cache: a cursor chain replays the
            # same template with only cursor= changing — key on the
            # tokenized request with cursor= elided (+ asof), so every
            # page of a chain reuses one candidate evaluation (the
            # reference's iterator resource cache analog)
            ckey = None
            if read_key is not None:
                ckey = (read_key, asof)
            try:
                plan, rows, total = FastReader(
                    self.store, self.types, asof=asof,
                    eval_cache=self.store._eval_cache,
                    cache_key=ckey,
                ).run(req.constraint)
            except Unsupported:
                pass
            else:
                asm = Assembler(self.store, self.types)
                return asm.set_value(plan, rows, total)
        spark = self._require_spark()
        compiler = Compiler(spark, self.store, self.types, asof=asof)
        plan, rows, total = compiler.run(req.constraint)
        asm = Assembler(self.store, self.types)
        return asm.set_value(plan, rows, total)

    # -- replies -----------------------------------------------------------

    def _ok(self, value, rid: Optional[str], extra: Optional[str] = None
            ) -> str:
        lead = ["ok"]
        if extra is not None:
            lead.append(extra)
        if rid is not None:
            lead.append(f'id="{escape_string(rid)}"')
        if value is None:
            return " ".join(lead)
        # a set-level `contents` pattern splices the sub results
        # directly into the reply
        items = value.items if isinstance(value, Splice) else [value]
        # the reply keyword's trailing space leaves a separator pending,
        # so an Empty whole-result yields "ok " (ref test emptylit)
        return " ".join(lead) + " " + join_values(items, sep_pending=True)

    def _error(self, code: str, message: str, rid: Optional[str],
               extra: Optional[str] = None) -> str:
        parts = ["error", code]
        if extra is not None:
            parts.append(extra)
        if rid is not None:
            parts.append(f'id="{escape_string(rid)}"')
        parts.append(f'"{escape_string(message)}"')
        return " ".join(parts)
