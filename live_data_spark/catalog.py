"""Query catalog: named (Spark query, DuckDB oracle) pairs.

Every operator from SURVEY.md §2 lands here as a registered query over the
driver's TPC-H-ish testdata tables, together with the ANSI-SQL oracle the
driver runs through DuckDB. Keeping both halves in one place keeps column
names/aliases in lockstep (the driver's compare hashes values after sorting
columns by name).

Determinism conventions (so order-insensitive value hashes match):
- Every float aggregate is ``round()``-ed identically on both sides (sum
  order differs between engines; rounding masks the ~1e-9 fp drift).
- Timestamps in output are formatted to strings (session-TZ independent).
- Anything ranked/limited carries a total order (explicit tiebreak keys).
- No nondeterministic functions (rand/uuid/sample) in oracle-checked queries.
"""

from __future__ import annotations

import functools as _functools
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path as _Path

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One catalog entry: the Spark implementation + its oracle SQL."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None → driver records rows-only check
    headline: bool = False  # include in bench.py
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
):
    """Decorator: register fn(spark, sf_dir) -> DataFrame under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(
            spark=fn, oracle=oracle, headline=headline, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


def catalog() -> dict[str, QuerySpec]:
    """All registered queries (imports operator modules for side effects).

    Ordering: the driver's correctness sweep verifies a 50-entry PREFIX of
    this dict, so the order IS the check schedule. It is computed by the
    rotation policy in :mod:`live_data_spark.ledger` — red rows first, then
    never-checked entries (new operators land there automatically), then
    entries edited since their last green row, then oldest-evidence-first.
    tests/test_engine.py pins the policy invariants.
    """
    # Imported lazily so `import live_data_spark` stays cheap.
    from live_data_spark.operators import classifier, clustering, curation, dedup, graph, profiling, similarity, multimodal, text, tokenizer  # noqa: F401
    from live_data_spark.streaming import events_batch  # noqa: F401
    from live_data_spark.corpus import pipeline  # noqa: F401
    from live_data_spark.plans import snapshot  # noqa: F401
    from live_data_spark.sources import pysource  # noqa: F401
    from live_data_spark import queries_analytics, queries_reference, queries_tpch_extra  # noqa: F401

    from live_data_spark.ledger import check_order

    has_oracle = {n: s.oracle is not None for n, s in _REGISTRY.items()}
    return {n: _REGISTRY[n] for n in check_order(_REGISTRY, has_oracle)}


# events.parquet may store ts as INT64 TIMESTAMP(NANOS) — Spark has no
# nanosecond timestamp, so such a file is read with ts declared bigint and a
# TIMESTAMP_NTZ is rebuilt at microsecond precision with pure integer
# arithmetic (session-TZ independent; matches DuckDB's nanos→micros
# truncation).
_EVENTS_TS_NTZ = (
    "timestampadd(MICROSECOND, (ts div 1000) % 1000000, "
    "timestampadd(SECOND, ts div 1000000000, TIMESTAMP_NTZ '1970-01-01 00:00:00'))"
)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    Reading never changes session conf. The events ``ts`` encoding comes
    from the parquet footer: a micro-second (or Spark INT96) file is a
    plain read; an INT64 nanosecond file is read through an explicit
    schema with ``ts`` as bigint (legal without
    ``spark.sql.legacy.parquet.nanosAsLong``) and rebuilt by
    ``_EVENTS_TS_NTZ``."""
    path = f"{sf_dir}/{table}.parquet"
    schema = _nanos_ts_schema(sf_dir, table) if table == "events" else None
    if schema is None:
        return spark.read.parquet(path)
    from pyspark.sql import functions as F

    return spark.read.schema(schema).parquet(path).withColumn("ts", F.expr(_EVENTS_TS_NTZ))


def _nanos_ts_schema(sf_dir: str, table: str):
    """The table's Spark read schema with ``ts`` as bigint when its first
    footer stores ``ts`` as INT64 TIMESTAMP(NANOS), else None — a
    metadata read, no Spark job."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import LongType, StructField, StructType

    files = _table_state(sf_dir, table)[0]
    if not files:
        return None
    pf = pq.ParquetFile(files[0])
    if "ts" not in pf.schema.names:
        return None
    col = pf.schema.column(pf.schema.names.index("ts"))
    if col.physical_type != "INT64" or '"nanoseconds"' not in col.logical_type.to_json():
        return None
    return StructType(
        [
            StructField("ts", LongType()) if f.name == "ts" else f
            for f in from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True)
        ]
    )


def _table_state(
    sf_dir: str, table: str
) -> tuple[tuple[str, ...], tuple[int, int, int]]:
    """ONE directory walk per metadata call: the table's file list plus
    its (n_files, total_bytes, max_mtime_ns) stat fingerprint — the
    change detector the footer caches below key on, so they track the
    table's current ON-DISK state rather than its path. A path-only
    cache silently serves pre-rewrite numbers after a
    compaction/re-ingest at the same location, mis-sizing every
    data-dependent plan parameter (LSH plane counts, IVF k_lists,
    broadcast gates) for the rest of the driver process. Stats are
    O(files) with no file opens — the footer PARSE is what's worth
    caching — and the file list travels WITH the fingerprint so cached
    bodies never re-glob."""
    path = _Path(sf_dir) / f"{table}.parquet"
    files = [path] if path.is_file() else sorted(path.glob("**/*.parquet"))
    st = [f.stat() for f in files]
    fp = (
        len(st),
        sum(s.st_size for s in st),
        max((s.st_mtime_ns for s in st), default=0),
    )
    return tuple(str(f) for f in files), fp


@_functools.lru_cache(maxsize=128)
def _rowcount_at(files: tuple[str, ...], fingerprint: tuple[int, int, int]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def table_rowcount(sf_dir: str, table: str) -> int:
    """Row count from parquet FOOTER metadata — a driver-side file-stat
    read, not a Spark job. Used to size data-dependent plan parameters
    (LSH plane counts, bucket fan-outs) without an eager ``df.count()``
    pass over the table: on a 100 TB table that eager count is a full
    extra scan per query build, while footers are O(files) metadata.
    Handles both a single ``{table}.parquet`` file and a directory of
    part-files (Spark's layout). Cached per on-disk STATE (stat
    fingerprint), not per path — a rewritten/appended table re-parses
    its footers instead of serving stale counts."""
    files, fp = _table_state(sf_dir, table)
    return _rowcount_at(files, fp)


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk parquet bytes for a table — a file-stat read, no Spark job.

    This is the same size estimate Spark's own planner uses for file
    sources (``sizeInBytes`` = total file length), so gating a hint on it
    agrees with what ``autoBroadcastJoinThreshold`` would see. Pure stat
    work, recomputed every call (caching would only save the glob while
    risking post-rewrite staleness)."""
    return _table_state(sf_dir, table)[1][1]


# Gate for explicit broadcast hints on frames whose size scales with SF.
# 32 MiB of compressed parquet ≈ low-hundreds of MB deserialized — safely
# inside executor/driver budgets at production settings, and ~100× above
# the largest dim at every checked SF (customer at sf0.1 is 312 KB), so
# every pinned plan keeps its broadcast while a 1000× run degrades to
# shuffle join + AQE + the runtime bloom-filter pruning path
# (tests/test_plans.py pins that fallback produces identical results).
BROADCAST_GATE_BYTES = 32 * 1024 * 1024

# One size model for a collected 2-long edge row (src, dst), shared by
# every small-graph driver arm (pagerank, dedup_clusters/survivors): 16 B
# of payload plus driver-side row overhead headroom. r12 shipped two
# inconsistent per-site constants (16 vs 24 B/edge) for the same row
# shape; a single estimate keeps the gates from drifting apart as they
# are tuned (they guard value-identical arms, so the exact constant only
# moves the switchover point, never the result).
EDGE_BYTES = 24


def edges_fit_gate(n_edges: int) -> bool:
    """True when a collected edge list of ``n_edges`` (src, dst) rows
    fits the repo-wide broadcast budget — the shared driver-arm gate.
    Reads ``BROADCAST_GATE_BYTES`` at CALL time so the gate-closed sweep
    (tests/test_broadcast_gate_closed.py) can force it shut by patching
    the module constant, like every other size gate."""
    return n_edges * EDGE_BYTES <= BROADCAST_GATE_BYTES


def key_domain_span(sf_dir: str, table: str, column: str) -> int:
    """Upper bound on an integer key column's DISTINCT count from parquet
    footer min/max statistics: distinct values ≤ max − min + 1. Still a
    driver-side metadata read (per-row-group stats, no scan). Bounds a
    per-DISTINCT-key frame far tighter than the base table's rowcount
    when keys repeat (events has ~66 rows per user at every SF): the
    rowcount bound scales with TRAFFIC while the frame scales with
    POPULATION. Sound in both directions — for a sparse 64-bit id space
    the span is huge, the gate shuts, and the plan falls back to the
    shuffle path; never an OOM. Falls back to the rowcount bound when
    any row group lacks min/max stats. Cached per on-disk state, like
    ``table_rowcount``."""
    files, fp = _table_state(sf_dir, table)
    return _key_span_at(files, column, fp)


@_functools.lru_cache(maxsize=128)
def _key_span_at(
    files: tuple[str, ...], column: str, fingerprint: tuple[int, int, int]
) -> int:
    import pyarrow.parquet as pq

    lo: int | None = None
    hi: int | None = None
    for fpath in files:
        md = pq.ParquetFile(fpath).metadata
        idx = md.schema.names.index(column)
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                # rowcount fallback reuses the SAME file list — no re-glob
                return _rowcount_at(files, fingerprint)
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    if lo is None or hi is None:  # zero row groups: empty table
        return 0
    return int(hi) - int(lo) + 1


def broadcast_dim(
    df: DataFrame,
    sf_dir: str,
    table: str,
    max_bytes: int | None = None,
    row_bytes: int | None = None,
    key: str | None = None,
) -> DataFrame:
    """Size-gated broadcast hint for an SF-SCALING frame.

    TPC-H dims are not fixed-size: part/supplier/customer grow linearly
    with SF, so an unconditional ``F.broadcast`` that is right at sf0.1
    is a driver OOM at sf100k (~20B part rows). ``table`` names the base
    table that BOUNDS the frame; the hint is applied only while that
    bound is under ``max_bytes``. Above it, the plain frame is returned
    and the plan falls back to Catalyst's own strategy — sort-merge with
    AQE and runtime bloom-filter scan pruning, which the plan tests pin
    as result-identical. Frames bounded by a FIXED domain (nation/
    region, calendar grids, k centroids, 1-row aggregates) keep their
    plain ``F.broadcast`` — they never scale with SF.

    The bound has two forms:

    - ``row_bytes=None`` (default): the frame is the table itself or a
      projection keeping its wide columns, so its bytes are ≤ the
      table's on-disk bytes — gate on ``table_bytes``.
    - ``row_bytes=K``: the frame is a NARROW per-key derivation (≤1 row
      per base row, ~K bytes each — e.g. a (bigint, bigint) aggregate of
      per-doc shingle counts). Gating such a frame on the base table's
      raw bytes closes the gate orders of magnitude early when the base
      rows are wide (documents carries full text): gate on
      ``table_rowcount × K`` instead, which tracks the frame's real
      broadcast cost while still being a driver-side footer read.
    - ``row_bytes=K, key="col"``: the frame has ≤1 row per DISTINCT
      value of an integer key that REPEATS in the base table (a per-user
      aggregate of events). The rowcount bound scales with traffic while
      the frame scales with population — gate on
      ``min(rowcount, key_domain_span) × K`` instead, still pure footer
      metadata (min/max column statistics).
    """
    from pyspark.sql import functions as F

    # resolved at CALL time (not def time) so the gate-closed sweep in
    # tests/test_broadcast_gate_closed.py can force every gate shut by
    # patching the module constant — the plan shape a 100× corpus yields
    gate = BROADCAST_GATE_BYTES if max_bytes is None else max_bytes
    if key is not None:
        if row_bytes is None:
            raise ValueError("key= requires row_bytes=")
        rows = min(
            table_rowcount(sf_dir, table), key_domain_span(sf_dir, table, key)
        )
        bound = rows * row_bytes
    elif row_bytes is not None:
        bound = table_rowcount(sf_dir, table) * row_bytes
    else:
        bound = table_bytes(sf_dir, table)
    return F.broadcast(df) if bound <= gate else df


def gated_pair_sides(
    df: DataFrame, sf_dir: str, table: str, rows_per_base: int
) -> tuple[DataFrame, DataFrame]:
    """("a", "b") aliased sides for a candidate-heavy SELF-join on a
    frame keyed by ``doc_id``, with the exchange-free pair plan applied
    while the frame passes the broadcast gate (the shared shape of
    text_sparse_cosine_topk and dedup_simhash):

    - gate OPEN (``table_rowcount × rows_per_base × PAIR_ROW_BYTES``
      under ``BROADCAST_GATE_BYTES``): hash-partition the frame by
      ``doc_id`` into ``defaultParallelism`` partitions (doubled when
      that equals the batch exchange count the planner uses:
      ``numShufflePartitions``, i.e. ``initialPartitionNum`` under AQE,
      not ``spark.sql.shuffle.partitions``, which sizes streaming
      state), probe with it and BROADCAST the same frame as the build
      side. The downstream pair aggregate/dedup keys (a.doc_id,
      b.doc_id) are then already clustered by a.doc_id, so the
      multi-million-row pair stream aggregates IN PLACE — no
      pair-level exchange, which is where the
      SMJ shape spends ~70% of its time on collision-rich corpora. The
      partition COUNT is what makes this fast. A column-only
      ``repartition("doc_id")`` is planned away when the frame is
      already hash-partitioned by doc_id upstream (the sparse
      signature's window), and AQE coalesces that upstream exchange of
      a small frame into about one partition, so the pair aggregate
      runs as one task — no faster than the SMJ arm at sf0.1. An
      explicit count is a REPARTITION_BY_NUM that AQE leaves alone, as
      long as it differs from the upstream exchange's count (equal
      counts are planned away the same way). Nothing is persisted: a
      re-run does the first run's work.
    - gate CLOSED (huge corpus): the plain self-join shape — SMJ with
      exchange-reused subtrees, pair aggregate with its own shuffle.
      Slower constants, but nothing is ever driver- or cache-resident.

    Plan arms pinned in test_sparse_cosine_pair_agg_needs_no_exchange,
    the simhash twin and test_gated_pair_sides_closed_arm_identical."""
    from pyspark.sql import functions as F

    # gate read at CALL time so the gate-closed sweep can force it shut
    bound = table_rowcount(sf_dir, table) * rows_per_base * PAIR_ROW_BYTES
    if bound > BROADCAST_GATE_BYTES:
        return df.alias("a"), df.alias("b")
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    # a count equal to an upstream doc_id exchange's (numShufflePartitions:
    # the batch count, not the streaming shuffle.partitions conf) is
    # planned away, leaving the probe on that exchange's AQE-coalesced
    # read — one task for the whole pair aggregate
    if n == spark._jsparkSession.sessionState().conf().numShufflePartitions():
        n *= 2
    p = df.repartition(n, "doc_id")
    return p.alias("a"), F.broadcast(p.alias("b"))


# broadcast-cost estimate per pair-frame row: a few longs/short strings
PAIR_ROW_BYTES = 40


# ---------------------------------------------------------------------------
# Non-catalog hardening helpers: named swap-in configurations (documented
# in SCALE.md/COVERAGE.md) that are NOT catalog entries — no driver row —
# but share the full catalog-entry contract otherwise. ONE list, imported
# by the default-deny test sweeps (tests/conftest.py) AND by tools that
# resolve entry names (scripts/scale_replay.py), so a new swap-in lands
# everywhere together. (fn_name, module) pairs.
# ---------------------------------------------------------------------------
NON_CATALOG_HELPERS: list[tuple[str, str]] = [
    ("triangles_degree_oriented", "live_data_spark.operators.graph"),
    ("source_cap_hash_rate", "live_data_spark.operators.curation"),
    ("html_strip_stats_dom", "live_data_spark.operators.text"),
    # neardup_lsh_production_band graduated to the catalog in r11;
    # semdedup_pairs_production followed in r12 — production rungs that
    # earn planted-case pins AND scale rows get promoted so the driver
    # accumulates rows on the config users would actually run
]


def resolve_runnable(name: str):
    """A catalog QuerySpec, or a helper wrapped in one, by name — how
    tools (scale_replay) accept both catalog entries and the named
    swap-in configurations above. None if the name is neither."""
    cat = catalog()
    if name in cat:
        return cat[name]
    for fn_name, module in NON_CATALOG_HELPERS:
        if fn_name == name:
            import importlib

            fn = getattr(importlib.import_module(module), fn_name)
            return QuerySpec(
                spark=fn, oracle=None, doc=(fn.__doc__ or "").strip(), tags=("helper",)
            )
    return None
