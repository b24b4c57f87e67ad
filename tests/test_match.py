"""One bound intrinsic match, two renderings: for every case below the
Spark Column (``compiler._column``) and the Python check
(``fastread._check``) of the same ``match.bind`` tree select the same
primitives of a small table, and so do their negations.  The whole
table is one ``select`` with one column per rendered tree."""

from __future__ import annotations

import pytest

from graphd_spark.api import GraphSession
from graphd_spark.compiler import Compiler, _column
from graphd_spark.fastread import FastReader, _check
from graphd_spark.gql.parser import parse_request
from graphd_spark.match import Not, bind
from graphd_spark.pattern import GraphdError

#: null, "" and a null string value, " 1" next to "1", words in two
#: cases, numbers, datetimes, typed links, explicit timestamps and a
#: versioned lineage (the bootstrap and type primitives come along)
WRITES = [
    'write (name="a" value=" 1")',
    'write (name="A" value="1" type="t1")',
    'write (name="b" value="2" type="t2")',
    'write (name="abc" value="abc")',
    'write (name="ABC" value="ABC")',
    'write (name="e" value="")',
    'write (name="n" datatype=string)',
    'write (type="t1")',
    'write (name="num" value="1.5e1" timestamp=1970-01-01T00:00:00.0002Z)',
    'write (value="-7")',
    'write (name="d" value="2001-02-03")',
    'write (name="d" value="2001-02-03T04:05")',
    'write (name="v" value="old" (<-left name="lnk" value="x" type="t2"))',
]

COMPARATORS = ("", ' comparator="octet"', ' comparator="case"',
               ' comparator="number"', ' comparator="datetime"')

STRCONS = (
    '="1"', '=""', "=null", '=(" 1" "abc")',
    '!="1"', "!=null", "!=()", '!=("abc" null)',
    '<"2"', '<="abc"', '>"1"', '>="2001"',
    '~="a*"', '~="2001-*"', "~=null",
)


def _cases(g: list) -> list:
    """Constraint bodies; ``g`` holds the guids the writes returned."""
    old, new, tomb = g[12], g[14], g[15]
    cases = [
        f"{field}{op}{comp}"
        for field in ("name", "value")
        for op in STRCONS
        for comp in COMPARATORS
        # names take = and != only; the number comparator has no ~=
        if op[0] in "=!" or (
            field == "value" and not (op[0] == "~" and "number" in comp)
        )
    ]
    cases += [
        'type="t1"', 'type!="t1"', "type=null", "type!=null",
        'type=("t1" null)', 'type!=("t2" null)', 'type="nosuch"',
        'type!="nosuch"',
        f"guid={g[0]}", f"guid!={g[0]}", f"guid=({g[0]} {g[1]})",
        f"guid~={old} newest>=0", f"left~=({old} null)",
        f"guid=({g[0]} {g[1]}) guid!={g[1]}",
        f"left={old}", f"left!={old}", "left=null", f"left~={old}",
        f"right=({old} null) right!=({old})",
        f"prev={old} newest>=0", f"next={new} newest>=0",
        f"next~={old} newest>=0", f"next!={new} newest>=0",
        "next=null newest>=0", f"guid={tomb} live=false",
        'dateline>"123456.5"', 'dateline<"123456.8"',
        'dateline<"123456.0"',
        "timestamp>1970-01-01T00:00:00.0010Z",
        "timestamp<=1970-01-01T00:00:00.0002Z",
        "timestamp=1970-01-01T00:00:00.0011Z",
        "timestamp!=1970-01-01T00:00:00.0000Z",
        "timestamp<1970-01-01T00:00:00.0000Z",
        "newest>=0", "newest=1", "oldest>=1", "oldest<=0",
        "live=dontcare", "archival=true", "datatype=string",
        "datatype=null", "false",
        'value>="2" value="2"', 'value<"b" name="abc"',
        'value~="ab*" value!="abc"', 'value=("1" "2") value!="2"',
    ]
    return cases


@pytest.fixture(scope="module")
def table(spark):
    gs = GraphSession(spark)
    guids = []
    for w in WRITES:
        guids.extend(gs.request(w)[4:-1].replace("(", " ").replace(
            ")", " ").split())
    old = guids[12]
    for w in (f'write (guid~={old} value="new")',
              f'write (guid~={guids[3]} live=false)'):
        guids.extend(gs.request(w)[4:-1].strip("()").split())
    return gs, guids


def test_renderings_agree(spark, table):
    gs, guids = table
    store, types = gs.store, gs.types
    trees: dict = {}
    for body in _cases(guids):
        con = parse_request(f"read ({body})").constraint
        for in_branch, iter_level in (
            (False, False), (True, False), (False, True)
        ):
            tree = bind(store, types, con, in_branch, iter_level)
            trees.setdefault(repr(tree), (tree, (
                f"{body} in_branch={in_branch} iter_level={iter_level}"
            )))
    cases = list(trees.values())
    assert len(cases) > 150
    rows = Compiler(spark, store, types).base.select(
        "id",
        *[_column(t).alias(f"t{i}") for i, (t, _) in enumerate(cases)],
        *[_column(Not(t)).alias(f"n{i}") for i, (t, _) in enumerate(cases)],
    ).collect()
    fr = FastReader(store, types)
    prims = list(store.rows)
    assert len(rows) == len(prims)
    wrong = []
    for i, (t, label) in enumerate(cases):
        for col, node in ((f"t{i}", t), (f"n{i}", Not(t))):
            spark_ids = sorted(r["id"] for r in rows if r[col] is True)
            py_ids = sorted(
                p.id for p in prims if _check(node, p, fr._maxgen)
            )
            if spark_ids != py_ids:
                wrong.append(f"{col} {label}: spark {spark_ids} "
                             f"python {py_ids}")
    assert not wrong, "\n".join(wrong)


def _selects(gs, body: str) -> list:
    con = parse_request(f"read ({body})").constraint
    tree = bind(gs.store, gs.types, con)
    maxgen = FastReader(gs.store, gs.types)._maxgen
    return [p.value for p in gs.store.rows
            if p.name == "x" and _check(tree, p, maxgen)]


def test_value_ne_rulings():
    """A check-only value!= applies only the comparator's equality
    (" 1" fuzzy-equals "1"), and a value with no comparator key (a
    non-number under comparator="number") differs from every literal,
    like a null value does."""
    gs = GraphSession(None)
    for v in (' value=" 1"', ' value="1"', ' value="2"', ' value="abc"',
              ""):
        gs.request(f'write (name="x"{v})')
    assert _selects(gs, 'value!="1"') == ["2", "abc", None]
    assert _selects(gs, 'comparator="number" value!="1"') == [
        " 1", "2", "abc", None
    ]


def test_bind_refuses_number_globs():
    """A clause no evaluator can run fails at bind time."""
    gs = GraphSession(None)
    con = parse_request('read (comparator="number" value~="1*")').constraint
    with pytest.raises(GraphdError) as e:
        bind(gs.store, gs.types, con)
    assert e.value.code == "SEMANTICS"
