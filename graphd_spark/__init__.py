"""graphd_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of googlearchive/graphd.

The reference (graphd, the Metaweb/Freebase tuple store) is a C server
evaluating a template-based graph query language over one universal
"primitive" tuple table.  This package re-expresses that capability
Spark-first:

- ``model``       — primitives schema, GUID + graph-timestamp codecs
- ``store``       — append-only primitive log (transactions, lineage/
                    generation columns, Parquet backend)
- ``gql``         — lexer/parser -> constraint-tree IR (ref libgdp/)
- ``typesys``     — type-system bootstrap + has_key name binding
- ``compiler``    — constraint tree -> DataFrame plan (ref
                    graphd/graphd-read*.c, graphd-constraint-iterator.c)
- ``fastread``    — the same reads from the driver mirror's indexes,
                    no Spark job (the serving path)
- ``cursor`` / ``freeze`` — the root page, count and cursor policy and
                    the iterator freeze both read evaluators share
- ``comparators`` — default/case/octet/number/datetime orderings as
                    order-preserving binary sort keys
- ``glob``        — the ``~=`` word-aware glob (regex + numeric rules)
- ``pattern``     — result pattern frames + reply assembly
- ``values``      — reply value tree + s-expression rendering
- ``write``       — write pipeline: version/unique/key/anchor (ref
                    graphd/graphd-write.c)
- ``dump``        — dump/restore tuple codec (ref graphd/graphd-dump.c)
- ``pagination``  — key-set continuation predicates (deep paging)
- ``streaming``   — replication as Structured Streaming (ref
                    doc/gr-replication.txt): the Parquet commit log is
                    the replica stream; datelines are stream offsets
- ``api``         — GraphSession: protocol request in, reply line out
- ``session``     — SparkSession defaults + testdata loaders
- ``inventory`` / ``inventory_pipeline`` / ``inventory_media`` /
  ``inventory_gql`` — the driver-contract operator inventory with
  DuckDB oracles (SURVEY.md §2 + training-data pipeline operators)

Design notes: declare plans with the DataFrame API and let Catalyst pick
physical strategy; Python UDFs only for the ``~=`` glob automaton and
comparator sort keys that built-ins cannot express (Arrow-batched
pandas UDFs, with stored binary key columns so the hot read path stays
JVM-side).  Everything here is derived from public knowledge: the
Apache Spark API and the reference repository's documented behavior.
"""

__version__ = "0.2.0"
