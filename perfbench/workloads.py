"""The benchmark's workloads and the inputs each one generates from a seed.

Every workload is driven by one closed-loop client: the next op is sent
only after the previous one returned. The seed decides the registry_mix
op order and every key and value in sql_session's SQL text; the table
data is the fixed sf0.01 star schema under ``perfbench/data``.

See ``perfbench/README.md`` for why each workload exists and what it is
expected to move.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

# registry_mix: registry entries, each op one registry call plus a
# noop-sink write. Two halves with opposite cost profiles:
#
# Relational entries, whose work is Catalyst planning and JVM execution.
# The engine-path entries q69-q77 are left out: their first call builds a
# private warehouse (31 s of a cold pass at sf0.01), and sql_session
# measures that path directly.
RELATIONAL = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q18_sessionization",
    "q22_salted_join",
    "q26_window_rank",
    "q29_notexists_antijoin",
    "q38_correlated_scalar",
    "q63_product_type_profit",
)
# Entries whose cost sits inside the registry call (plan-time jobs,
# convergence loops, streaming drains) or in Python workers: d02 probes
# its input while the plan is built, d04 and q68 run Python UDFs, q68
# iterates, st02 drains a stateful stream.
DATAPREP = (
    "d02_ngram_jaccard",
    "d04_simhash",
    "q68_order_batch_packing",
    "st02_stream_dedup",
)

REGISTRY_MIX = RELATIONAL + DATAPREP
WORKLOADS = ("registry_mix", "sql_session")
# bench.py's cost classes (operators.registry.bench_class)
BENCH_CLASSES = ("relational", "pair_generation", "iterative", "streaming")


def pass_rng(workload: str, seed: int, label: object) -> random.Random:
    # str seeds hash with SHA-512: stable across processes and versions
    return random.Random(f"{workload}:{seed}:{label}")


def registry_order(seed: int, label: object) -> list[str]:
    names = list(REGISTRY_MIX)
    pass_rng("registry_mix", seed, label).shuffle(names)
    return names


# ---------------------------------------------------------------------------
# sql_session: statement stream and the dict model that replays it
# ---------------------------------------------------------------------------

TABLE = "ord"
COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
CREATE = (
    f"CREATE TABLE {TABLE} (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
    "o_orderstatus VARCHAR(1), o_totalprice DOUBLE, o_orderpriority VARCHAR(15))"
)
BULK_LOAD = f"INSERT INTO {TABLE} SELECT {', '.join(COLUMNS)} FROM orders"
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
READ_KINDS = ("point", "range", "agg")
WRITE_KINDS = ("insert", "replace", "delete", "txn")
KINDS = READ_KINDS + WRITE_KINDS + ("optimize", "analyze", "reopen")
# The statement mix is sysbench's oltp_read_write transaction at its
# defaults (point_selects=10; simple, sum, order and distinct ranges 1
# each over range_size=100 keys; index and non-index updates 1 each;
# delete_inserts=1), in sysbench's order, mapped onto the engine's
# statements: point SELECT by PK; the simple and sum ranges as PK-range
# COUNT/SUM ("range"); the order and distinct ranges as GROUP BY over a
# PK range ("agg"); each update as a one-row REPLACE of an existing key;
# the delete-insert as a DELETE by PK and a two-row INSERT of new keys.
# A cycle is two such transactions: the first autocommits each write,
# the second runs its four writes in one BEGIN ... COMMIT ("txn").
# Maintenance rides along: a reconnect between the two (the second
# starts on a cold manifest cache), then ANALYZE, and OPTIMIZE closing
# the cycle, which bounds the files a read meets and makes the layout at
# the end of a run independent of the number of cycles.
READS = ("point",) * 10 + ("range",) * 2 + ("agg",) * 2
CYCLE = READS + ("replace", "replace", "delete", "insert", "reopen") + READS + ("txn", "analyze", "optimize")
RANGE_WIDTH = 100


@dataclass
class Stmt:
    kind: str
    sqls: list[str]
    # reads: a function of the model giving the expected rows
    expect: object = None
    # writes: (upserts, deletes) applied to the model once the op succeeds
    upserts: list[tuple] = field(default_factory=list)
    deletes: list[int] = field(default_factory=list)

    @property
    def klass(self) -> str:
        if self.kind in READ_KINDS:
            return "read"
        if self.kind in WRITE_KINDS:
            return "write"
        return "maint"

    @property
    def user_bytes(self) -> int:
        return sum(len(_tuple_sql(r)) for r in self.upserts)


def _lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)


def _tuple_sql(row: tuple) -> str:
    return "(" + ", ".join(_lit(v) for v in row) + ")"


class OrdersModel:
    """The ``ord`` table as a dict keyed by o_orderkey."""

    def __init__(self, rows: list[tuple]):
        self.rows = {r[0]: r for r in rows}
        self._next_key = max(self.rows) + 1

    def apply(self, stmt: Stmt) -> None:
        for r in stmt.upserts:
            self.rows[r[0]] = r
        for k in stmt.deletes:
            self.rows.pop(k, None)

    def new_key(self) -> int:
        k = self._next_key
        self._next_key += 1
        return k

    # expected results ----------------------------------------------------

    def point(self, key: int) -> list[tuple]:
        r = self.rows.get(key)
        return [r] if r else []

    def range_agg(self, lo: int, hi: int) -> list[tuple]:
        hit = [r[3] for k, r in self.rows.items() if lo <= k <= hi]
        return [(len(hit), math.fsum(hit) if hit else None)]

    def group_agg(self, col: int, lo: int, hi: int) -> list[tuple]:
        acc: dict[str, list[float]] = {}
        for k, r in self.rows.items():
            if lo <= k <= hi:
                acc.setdefault(r[col], []).append(r[3])
        return sorted((g, len(v), math.fsum(v)) for g, v in acc.items())


class StatementStream:
    """Seeded statements over a live ``OrdersModel``. The kinds and their
    order are fixed (``CYCLE``); the seed draws every key and value, from
    the model's current rows, so the text depends only on the seed and
    the statements before it."""

    def __init__(self, model: OrdersModel, workload_seed: int):
        self.model = model
        self.seed = workload_seed
        self._aggs = 0  # agg alternates its GROUP BY column by count

    def _row(self, rng: random.Random, key: int) -> tuple:
        return (
            key,
            rng.randrange(1, 1500),
            rng.choice(STATUSES),
            round(rng.uniform(1000.0, 500000.0), 2),
            rng.choice(PRIORITIES),
        )

    def _live(self, rng: random.Random) -> int:
        return rng.choice(list(self.model.rows))

    def cycle(self, label: object) -> list[tuple[str, random.Random]]:
        rng = pass_rng("sql_session", self.seed, label)
        return [(k, rng) for k in CYCLE]

    def make(self, kind: str, rng: random.Random) -> Stmt:
        m = self.model
        if kind == "point":
            key = self._live(rng)
            return Stmt(kind, [f"SELECT {', '.join(COLUMNS)} FROM {TABLE} WHERE o_orderkey = {key}"],
                        expect=lambda: m.point(key))
        if kind in ("range", "agg"):
            lo = rng.randrange(1, max(m.rows) - RANGE_WIDTH)
            hi = lo + RANGE_WIDTH - 1
            where = f"WHERE o_orderkey BETWEEN {lo} AND {hi}"
            if kind == "range":
                return Stmt(kind, [f"SELECT COUNT(*) AS n, SUM(o_totalprice) AS s FROM {TABLE} {where}"],
                            expect=lambda: m.range_agg(lo, hi))
            self._aggs += 1
            col = (2, 4)[self._aggs % 2]
            name = COLUMNS[col]
            return Stmt(kind, [f"SELECT {name}, COUNT(*) AS n, SUM(o_totalprice) AS s FROM {TABLE} "
                               f"{where} GROUP BY {name}"],
                        expect=lambda: m.group_agg(col, lo, hi))
        if kind == "replace":
            row = self._row(rng, self._live(rng))
            return Stmt(kind, [f"REPLACE INTO {TABLE} VALUES {_tuple_sql(row)}"], upserts=[row])
        if kind == "delete":
            key = self._live(rng)
            return Stmt(kind, [f"DELETE FROM {TABLE} WHERE o_orderkey = {key}"], deletes=[key])
        if kind == "insert":
            rows = [self._row(rng, m.new_key()) for _ in range(2)]
            return Stmt(kind, [f"INSERT INTO {TABLE} VALUES " + ", ".join(map(_tuple_sql, rows))], upserts=rows)
        if kind == "txn":
            # the autocommitted writes of a transaction, in one BEGIN ... COMMIT
            parts = [self.make(k, rng) for k in ("replace", "replace", "delete", "insert")]
            return Stmt(kind, ["BEGIN", *(p.sqls[0] for p in parts), "COMMIT"],
                        upserts=[r for p in parts for r in p.upserts],
                        deletes=[k for p in parts for k in p.deletes])
        if kind == "optimize":
            return Stmt(kind, [f"OPTIMIZE TABLE {TABLE}"])
        if kind == "analyze":
            return Stmt(kind, [f"ANALYZE TABLE {TABLE}"])
        if kind == "reopen":
            return Stmt(kind, [])
        raise ValueError(f"unknown statement kind {kind!r}")


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row comparison; floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple(str(v) for v in r if not isinstance(v, float))  # noqa: E731
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True
