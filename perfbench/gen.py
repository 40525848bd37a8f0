"""Seeded input generators for the benchmark.

Two generators, both pure functions of their seed:

* ``CdcGenerator`` writes Debezium-style JSON envelope files, one file
  per micro-batch.  Its knobs are the ones the engine's cost depends
  on: table widths, the update/insert/delete mix, Zipf key skew and the
  share of events that arrive out of order within their batch.
* ``write_catalog_tables`` writes the ten star-schema / stream / corpus
  tables the analytics catalog reads, with the same schemas and value
  domains as the project's reference test data, at a chosen scale.

Only the generated files reach the engine.  The correctness reference
(``reference.py``) reads the same files with DuckDB.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Column types cycled through as a table is widened: every type the
#: envelope decoder and the merge carry.
COLUMN_TYPES = (
    "BIGINT",
    "DOUBLE",
    "DECIMAL(12,2)",
    "VARCHAR",
    "TIMESTAMP",
    "BOOLEAN",
    "INTEGER",
    "DECIMAL(18,6)",
)

#: DuckDB type → Spark DDL type of the decoded payload column.
SPARK_TYPES = {
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "DECIMAL(12,2)": "decimal(12,2)",
    "VARCHAR": "string",
    "TIMESTAMP": "timestamp",
    "BOOLEAN": "boolean",
    "INTEGER": "int",
    "DECIMAL(18,6)": "decimal(18,6)",
}

KEY_COL = "id"
_TS_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: string column values: 4096 fixed phrases of one to five words
_PHRASES = pa.array(
    [
        " ".join(_WORDS[(i * 7 + j * 13) % len(_WORDS)] for j in range(1 + i % 5))
        + f" {i}"
        for i in range(4096)
    ]
)


@dataclass(frozen=True)
class TableSpec:
    """One source table: ``width`` data columns besides the ``id`` key,
    and ``initial_keys`` rows that exist before the stream starts."""

    name: str
    width: int
    initial_keys: int

    @property
    def columns(self) -> list[tuple[str, str]]:
        """(name, DuckDB type) of the data columns.  Names carry the
        table name, so tables sharing one stream never share a column."""
        return [
            (f"{self.name}_c{i:02d}", COLUMN_TYPES[i % len(COLUMN_TYPES)])
            for i in range(self.width)
        ]


@dataclass(frozen=True)
class CdcSpec:
    """Shape of one CDC stream.  ``mix`` is the (update, insert, delete)
    share; ``zipf_s`` the exponent of the key-popularity law; and
    ``out_of_order`` the share of events displaced within their batch,
    so file order differs from commit (LSN) order."""

    tables: tuple[TableSpec, ...]
    batch_events: int
    mix: tuple[float, float, float] = (0.7, 0.2, 0.1)
    zipf_s: float = 1.1
    out_of_order: float = 0.1

    def payload_columns(self) -> list[tuple[str, str]]:
        """The union payload schema the one stream is decoded with."""
        cols = [(KEY_COL, "BIGINT")]
        for t in self.tables:
            cols.extend(t.columns)
        return cols

    def spark_payload_ddl(self) -> str:
        return ", ".join(
            f"`{c}` {SPARK_TYPES[t]}" for c, t in self.payload_columns()
        )


def _raw_values(rng: np.random.Generator, duck_type: str, n: int) -> pa.Array:
    """Random values of one column, ~3% null.  Decimals and timestamps
    are drawn as numbers here and typed by the SQL projection."""
    if duck_type == "BIGINT":
        arr = pa.array(rng.integers(-(10**12), 10**12, n))
    elif duck_type == "INTEGER":
        arr = pa.array(rng.integers(-(10**6), 10**6, n).astype(np.int32))
    elif duck_type == "DOUBLE":
        arr = pa.array(np.round(rng.normal(0.0, 1e4, n), 4))
    elif duck_type == "DECIMAL(12,2)":
        arr = pa.array(np.round(rng.uniform(-1e8, 1e8, n), 2))
    elif duck_type == "DECIMAL(18,6)":
        arr = pa.array(np.round(rng.uniform(-1e8, 1e8, n), 6))
    elif duck_type == "VARCHAR":
        arr = _PHRASES.take(pa.array(rng.integers(0, len(_PHRASES), n)))
    elif duck_type == "TIMESTAMP":
        # microsecond instants over ten years from 2024-01-01
        arr = pa.array(_TS_BASE_MS * 1000 + rng.integers(0, 315_360_000 * 10**6, n))
    elif duck_type == "BOOLEAN":
        arr = pa.array(rng.random(n) < 0.5)
    else:
        raise ValueError(f"unknown column type {duck_type}")
    nulls = rng.random(n) < 0.03
    return pc.if_else(pa.array(nulls), pa.nulls(n, arr.type), arr)


def _typed(col: str, duck_type: str) -> str:
    """SQL that types one raw column (see :func:`_raw_values`)."""
    if duck_type == "TIMESTAMP":
        return f"make_timestamp({col})"
    return f"CAST({col} AS {duck_type})"


def _zipf_ranks(rng: np.random.Generator, s: float, n_keys: int, size: int) -> np.ndarray:
    """Ranks in ``[0, n_keys)`` with P(rank r) ∝ 1/(r+1)^s."""
    weights = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_keys - 1)


class CdcGenerator:
    """Writes the envelope files of one seeded CDC stream.

    Batch ``b`` is a pure function of (seed, spec, b): each batch draws
    from its own ``SeedSequence`` child, and the key space a batch sees
    is known in advance (inserts take fresh keys, one counter per
    table, from a per-batch quota fixed by the spec).  So batches can be
    written in any order, or only some of them, with identical bytes.
    """

    def __init__(self, spec: CdcSpec, seed: int) -> None:
        self.spec = spec
        self.seed = seed
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 1")

    def close(self) -> None:
        self._con.close()

    # -- deterministic per-batch plan -------------------------------------

    def _rng(self, *path: int) -> np.random.Generator:
        return np.random.default_rng(np.random.SeedSequence([self.seed, *path]))

    def _table_counts(self) -> list[int]:
        """Events per table per batch: weighted by width so wider tables
        carry fewer, fatter rows (narrow : wide ≈ 2 : 1)."""
        tables = self.spec.tables
        if len(tables) == 1:
            return [self.spec.batch_events]
        w = np.array([1.0 / (1 + t.width) ** 0.25 for t in tables])
        counts = np.floor(w / w.sum() * self.spec.batch_events).astype(int)
        counts[0] += self.spec.batch_events - counts.sum()
        return [int(c) for c in counts]

    def _inserts_per_batch(self, n_events: int) -> int:
        return int(round(n_events * self.spec.mix[1]))

    def snapshot(self, table_idx: int) -> pa.Table:
        """The rows that exist before the stream starts (keys
        ``0 .. initial_keys-1``), for ``sources.initial_copy``."""
        t = self.spec.tables[table_idx]
        rng = self._rng(1_000_000, table_idx)
        n = t.initial_keys
        raw = {KEY_COL: pa.array(np.arange(n, dtype=np.int64))}
        for c, ty in t.columns:
            raw[c] = _raw_values(rng, ty, n)
        arrow = pa.table(raw)  # noqa: F841 - referenced by the SQL below
        sel = ", ".join(
            [KEY_COL] + [f"{_typed(c, ty)} AS {c}" for c, ty in t.columns]
        )
        return self._con.sql(f"SELECT {sel} FROM arrow ORDER BY {KEY_COL}").arrow()

    def batch_lines(self, b: int) -> list[str]:
        """The JSON envelope lines of batch ``b``, in file (arrival)
        order."""
        spec = self.spec
        rng = self._rng(b)
        parts = []
        lsn0 = 1 + b * spec.batch_events  # LSNs are unique across batches
        counts = self._table_counts()
        # commit order interleaves the tables: table ti owns a random
        # subset of the batch's LSN positions
        slots = rng.permutation(spec.batch_events)
        offset = 0
        for ti, (t, n) in enumerate(zip(spec.tables, counts)):
            n_ins = self._inserts_per_batch(n)
            # keys existing when batch b starts: snapshot + earlier inserts
            live = t.initial_keys + b * n_ins
            ops = np.array(["u"] * n, dtype=object)
            u_share, _i_share, d_share = spec.mix
            rest = rng.permutation(n)
            ins_pos = rest[:n_ins]
            del_pos = rest[n_ins : n_ins + int(round(n * d_share))]
            ops[ins_pos] = "c"
            ops[del_pos] = "d"
            keys = np.empty(n, dtype=np.int64)
            keys[np.sort(ins_pos)] = live + np.arange(n_ins)
            upd = np.setdiff1d(np.arange(n), ins_pos)
            # hottest keys are the most recently inserted (OLTP recency)
            keys[upd] = live - 1 - _zipf_ranks(rng, spec.zipf_s, live, len(upd))
            raw = {
                "pos": pa.array(np.sort(slots[offset : offset + n])),
                "op": pa.array(ops.astype(str)),
                KEY_COL: pa.array(keys),
            }
            for c, ty in t.columns:
                raw[c] = _raw_values(rng, ty, n)
            arrow = pa.table(raw)  # noqa: F841 - referenced by the SQL below
            after = ", ".join(
                [f"'{KEY_COL}': {KEY_COL}"]
                + [f"'{c}': {_typed(c, ty)}" for c, ty in t.columns]
            )
            parts.append(
                self._con.sql(
                    f"""
                    SELECT pos, '{{"op":"' || op || '","ts_ms":' || ({_TS_BASE_MS} + {lsn0} + pos)
                        || ',"before":' || CASE WHEN op = 'd'
                            THEN to_json({{'{KEY_COL}': {KEY_COL}}})::VARCHAR ELSE 'null' END
                        || ',"after":' || CASE WHEN op = 'd'
                            THEN 'null' ELSE to_json({{{after}}})::VARCHAR END
                        || ',"source":{{"lsn":' || ({lsn0} + pos)
                        || ',"table":"{t.name}","schema":"public"}}}}' AS line
                    FROM arrow
                    """
                ).arrow()
            )
            offset += n
        # displace a share of events so file order is not commit order
        lines = pa.concat_tables(parts).sort_by("pos").column("line").to_pylist()
        order = self._rng(b, 1).permutation(len(lines))
        moved = np.sort(order[: int(round(len(lines) * spec.out_of_order))])
        shuffled = self._rng(b, 2).permutation(moved)
        arrival = np.arange(len(lines))
        arrival[moved] = shuffled
        return [lines[i] for i in arrival]

    def write_batch(self, b: int, path: str) -> int:
        """Write batch ``b`` to ``path`` (atomically); returns its size."""
        lines = self.batch_lines(b)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
            f.write("\n")
        os.replace(tmp, path)
        return len(lines)


# -- analytics catalog tables -------------------------------------------------

_PART_ADJ = "blue cold hot large new old red small".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the catalog's ten input tables as parquet under ``out_dir``
    at scale ``sf`` (lineitem ≈ 6M·sf rows).  Schemas and value domains
    follow the reference test data: independent uniform draws, an
    exponential event value, 64-d unit embeddings with 10 labels, and
    documents over a 31-word vocabulary of which 5% are near-duplicates
    (an earlier text plus " dup").  Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_000, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    day_us = 86_400 * 10**6
    t1995 = 788_918_400 * 10**6  # 1995-01-01

    def ts(us: np.ndarray) -> pa.Array:
        return pa.array(us.astype(np.int64)).cast(pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    names = [f"{a} {n}" for a in _PART_ADJ for n in _PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": ts(t1995 + rng.integers(0, 2405, n_ord) * day_us),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts(t1995 + 86_400 * 10**6 + rng.integers(0, 2499, n_li) * day_us),
    })
    ev_ts = np.sort(rng.integers(0, 30 * day_us, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(1_704_067_200 * 10**6 + ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    n_words = rng.integers(10, 101, n_doc)
    is_dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if is_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words[i])))
    n_src = 20
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % n_src}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
