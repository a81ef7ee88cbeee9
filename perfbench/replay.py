"""DuckDB oracle for the ingest workload.

Replays the pipeline's contract over the raw CSV text, batch by batch,
without touching Spark:

- a line is corrupt when its field count differs from the header's or
  a non-empty field does not cast to the declared type (Spark's
  PERMISSIVE ``_corrupt_record`` rule);
- validation appends, in rule order, ``Null <col>`` for each
  non-nullable column, ``Non-positive total_amount`` for orders and
  ``Invalid <col> reference`` for each order_items foreign key, checked
  against the curated zone as it stands after this batch's dimensions;
- dedup keeps the first row per primary key ordered by every other
  column ascending, nulls last;
- MERGE replaces curated rows by key and inserts new keys.

It yields the per-batch row accounting and the expected final state,
which the benchmark compares with what Spark wrote.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa

from gen import COLUMNS, PK

ORDER = tuple(COLUMNS)  # products, orders, then order_items, whose FKs read both
DOMAIN = {"orders": [("total_amount", "total_amount <= 0", "Non-positive total_amount")]}
FOREIGN = {"order_items": [("order_id", "orders"), ("product_id", "products")]}

_DUCK_TYPE = {
    "IntegerType()": "INTEGER",
    "DoubleType()": "DOUBLE",
    "StringType()": "VARCHAR",
    "TimestampType()": "TIMESTAMP",
    "DateType()": "DATE",
}


def duck_schema(schemas) -> dict[str, list[tuple[str, str, bool]]]:
    """(column, DuckDB type, nullable) per table from the Spark schemas."""
    out = {}
    for t, st in schemas.items():
        out[t] = [(f.name, _DUCK_TYPE[repr(f.dataType)], f.nullable) for f in st.fields]
        if [c for c, _, _ in out[t]] != COLUMNS[t]:
            raise ValueError(f"{t}: generator columns differ from the declared schema")
    return out


class Replay:
    def __init__(self, schemas):
        self.schema = duck_schema(schemas)
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t, cols in self.schema.items():
            ddl = ", ".join(f'"{c}" {ty}' for c, ty, _ in cols)
            self.con.execute(f"CREATE TABLE cur_{t} ({ddl})")
        self.rejected: dict[tuple[str, str], int] = {}

    def batch(self, raw_paths: dict[str, str]) -> dict[str, dict]:
        """Apply one batch; return per-table accounting."""
        return {t: self._table(t, raw_paths[t]) for t in ORDER}

    def _table(self, t: str, path_glob: str) -> dict:
        cols = self.schema[t]
        lines = []
        for f in sorted(glob.glob(path_glob)):
            with open(f, encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines()[1:])
        self.con.register("raw_lines", pa.table({"line": pa.array(lines, pa.string())}))
        fields = [f"NULLIF(f[{i + 1}], '')" for i in range(len(cols))]
        bad = " OR ".join(
            f"({v} IS NOT NULL AND TRY_CAST({v} AS {ty}) IS NULL)"
            for v, (_, ty, _) in zip(fields, cols)
        )
        typed = ", ".join(
            f'TRY_CAST({v} AS {ty}) AS "{c}"' for v, (c, ty, _) in zip(fields, cols)
        )
        self.con.execute(
            f"""CREATE OR REPLACE TEMP TABLE parsed AS
            SELECT (len(f) <> {len(cols)} OR {bad}) AS corrupt, {typed}
            FROM (SELECT string_split(line, ',') AS f FROM raw_lines)"""
        )
        self.con.unregister("raw_lines")
        checks = [f"CASE WHEN \"{c}\" IS NULL THEN 'Null {c}' END" for c, _, n in cols if not n]
        checks += [
            f"CASE WHEN {c} IS NOT NULL AND {cond} THEN '{msg}' END"
            for c, cond, msg in DOMAIN.get(t, [])
        ]
        checks += [
            f"CASE WHEN p.{c} IS NOT NULL AND NOT EXISTS (SELECT 1 FROM cur_{ref} r "
            f"WHERE r.{PK[ref]} = p.{c}) THEN 'Invalid {c} reference' END"
            for c, ref in FOREIGN.get(t, [])
        ]
        names = ", ".join(f'"{c}"' for c, _, _ in cols)
        self.con.execute(
            f"""CREATE OR REPLACE TEMP TABLE checked AS
            SELECT {names}, NULLIF(concat_ws('; ', {', '.join(checks)}), '') AS err
            FROM parsed p WHERE NOT corrupt"""
        )
        order = ", ".join(f'"{c}" ASC NULLS LAST' for c, _, _ in cols if c != PK[t])
        self.con.execute(
            f"""CREATE OR REPLACE TEMP TABLE upd AS
            SELECT {names} FROM checked WHERE err IS NULL
            QUALIFY row_number() OVER (PARTITION BY "{PK[t]}" ORDER BY {order}) = 1"""
        )
        con = self.con
        raw = len(lines)
        corrupt = con.execute("SELECT count(*) FROM parsed WHERE corrupt").fetchone()[0]
        rejected = dict(
            con.execute("SELECT err, count(*) FROM checked WHERE err IS NOT NULL GROUP BY err").fetchall()
        )
        valid = con.execute("SELECT count(*) FROM checked WHERE err IS NULL").fetchone()[0]
        clean = con.execute("SELECT count(*) FROM upd").fetchone()[0]
        new_keys = con.execute(
            f'SELECT count(*) FROM upd WHERE "{PK[t]}" NOT IN (SELECT "{PK[t]}" FROM cur_{t})'
        ).fetchone()[0]
        con.execute(
            f"""CREATE OR REPLACE TABLE cur_{t} AS
            SELECT * FROM cur_{t} WHERE "{PK[t]}" NOT IN (SELECT "{PK[t]}" FROM upd)
            UNION ALL SELECT * FROM upd"""
        )
        for msg, n in rejected.items():
            self.rejected[(t, msg)] = self.rejected.get((t, msg), 0) + n
        curated = con.execute(f"SELECT count(*) FROM cur_{t}").fetchone()[0]
        return {
            "raw": raw, "corrupt": corrupt, "rejected": rejected,
            "dropped": valid - clean, "clean": clean, "new_keys": new_keys,
            "curated": curated,
        }

    def zone_view(self, name: str, path: str) -> None:
        """A view over a Spark-written parquet table directory."""
        files = os.path.join(path, "**", "*.parquet")
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{files}', hive_partitioning = true, union_by_name = true)"
        )

    def curated_diff(self, t: str, path: str) -> int:
        """Rows in either the replayed or the Spark-written table but not
        in both (multiset difference, both directions)."""
        self.zone_view(f"spark_{t}", path)
        proj = ", ".join(f'CAST("{c}" AS {ty}) AS "{c}"' for c, ty, _ in self.schema[t])
        q = f"""SELECT count(*) FROM (
            (SELECT {proj} FROM spark_{t} EXCEPT ALL SELECT {proj} FROM cur_{t})
            UNION ALL
            (SELECT {proj} FROM cur_{t} EXCEPT ALL SELECT {proj} FROM spark_{t}))"""
        return self.con.execute(q).fetchone()[0]

    def close(self) -> None:
        self.con.close()
