"""Independent DuckDB oracle for search pages and stored state.

Latest-writer-wins is recomputed here from scratch -- ``row_number() OVER
(PARTITION BY bucket, key ORDER BY opIndex DESC) = 1``, then
``type <> 'delete'``, then the predicate, then ``key > start_after``,
ordered by key with a limit -- over either the store's landing and staging
parquet or the generated input events. Nothing here imports the engine.
"""

from __future__ import annotations

import glob
import os

import duckdb

from gen import Event, Search, md5_of

_LATEST = """
    select bucket, key, opIndex, size, md5, owner, color from (
      select *, row_number() over (
        partition by bucket, key order by opIndex desc) as rn
      from {src}
    ) where rn = 1 and type <> 'delete'
"""


def parquet_files(root: str) -> list[str]:
    return sorted(
        glob.glob(os.path.join(root, "landing", "bucket=*", "*", "*.parquet"))
        + glob.glob(os.path.join(root, "staging", "bucket=*", "*", "*.parquet"))
    )


class Oracle:
    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"set threads to {len(os.sched_getaffinity(0))}")
        self.tables: set[str] = set()

    def close(self) -> None:
        self.con.close()

    def load_inputs(self, events_by_batch: list[list[Event]]) -> None:
        """Table ``ev``: every generated event, tagged with its batch."""
        import pyarrow as pa

        rows = [
            (e.bucket, e.key, f"{e.op:012d}_0", e.type, e.size,
             md5_of(e) if e.type == "put" else None, e.owner, e.color, i)
            for i, batch in enumerate(events_by_batch)
            for e in batch
        ]
        cols = list(zip(*rows)) if rows else [[]] * 9
        names = ["bucket", "key", "opIndex", "type", "size", "md5", "owner",
                 "color", "batch"]
        ev = pa.table({n: list(c) for n, c in zip(names, cols)})
        self.con.register("ev_arrow", ev)
        self.con.execute("create or replace table ev as select * from ev_arrow")
        self.con.unregister("ev_arrow")

    def load_store(self, root: str) -> int:
        """Table ``st``: every row of both tiers, read from the parquet
        files the engine wrote. Returns the row count."""
        files = parquet_files(root)
        if not files:
            raise RuntimeError(f"no parquet files under {root}")
        flist = ", ".join(f"'{f}'" for f in files)
        self.con.execute(f"""
            create or replace table raw as
            select * exclude (maxOpIndex)
            from read_parquet([{flist}], hive_partitioning = true,
                              union_by_name = true)
        """)
        self.con.execute("""
            create or replace table st as
            select bucket, key, opIndex, type,
                   message."content-length"::bigint as size,
                   message."content-md5" as md5,
                   map_extract(message.userMd, 'x-amz-meta-owner')[1] as owner,
                   map_extract(message.userMd, 'x-amz-meta-color')[1] as color
            from raw
        """)
        self.con.execute(f"create or replace table st_latest as {_LATEST.format(src='st')}")
        return self.con.execute("select count(*) from st").fetchone()[0]

    def input_latest_sql(self, upto_batch: int) -> str:
        return _LATEST.format(src=f"(select * from ev where batch <= {upto_batch})")

    def latest_table(self, upto_batch: int) -> str:
        """A query over the inputs' latest state after ``upto_batch``,
        materialised once per batch."""
        name = f"ev_latest_{upto_batch}"
        if name not in self.tables:
            self.con.execute(
                f"create table {name} as {self.input_latest_sql(upto_batch)}"
            )
            self.tables.add(name)
        return f"select * from {name}"

    def store_mismatches(self, upto_batch: int) -> int:
        """Keys whose latest state in the store differs from the inputs'
        (lost, resurrected or stale writes)."""
        cols = "bucket, key, opIndex, size, md5"
        exp = self.input_latest_sql(upto_batch)
        return self.con.execute(f"""
            select count(*) from (
              (select {cols} from st_latest except select {cols} from ({exp}))
              union all
              (select {cols} from ({exp}) except select {cols} from st_latest)
            )
        """).fetchone()[0]

    def write_latest(self, out: str) -> None:
        """Write the store's latest state once, sorted by key, one parquet
        file per bucket: the reference size ``space_amp`` divides by."""
        self.con.execute(f"""
            copy (
              select * exclude (rn) from (
                select *, row_number() over (
                  partition by bucket, key order by opIndex desc) as rn
                from raw
              ) where rn = 1 and type <> 'delete'
              order by bucket, key
            ) to '{out}' (format parquet, partition_by (bucket))
        """)

    def live_keys(self) -> int:
        return self.con.execute("select count(*) from st_latest").fetchone()[0]

    def page(
        self, s: Search, start_after: str | None, limit: int, src: str
    ) -> list[tuple[str, int, str]]:
        """Expected ``limit + 1`` rows (the extra row decides truncation)."""
        conds = [f"bucket = '{s.bucket}'", s.duckdb_where()]
        params = []
        if start_after is not None:
            conds.append("key > ?")
            params.append(start_after)
        return self.con.execute(
            f"select key, size, md5 from ({src}) where {' and '.join(conds)} "
            f"order by key limit {limit + 1}",
            params,
        ).fetchall()
