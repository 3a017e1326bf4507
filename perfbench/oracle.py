"""Expected outputs computed in DuckDB, independently of the engine.

Country assignment comes from the synth's SQL fragments
(`sql_lat_e6`/`sql_lon_e6`/`sql_country_case`): integer arithmetic over
the event ids and interval tests, no point-in-polygon code. Tiles are
binned from those oracle coordinates. Dedup uses the registry's own
oracle SQL. Engine outputs are written to parquet and compared row by
row (`EXCEPT ALL` both ways, so duplicates and NULLs count).
"""

from __future__ import annotations

import duckdb

from osm_notes_ingestion_spark.plans.queries_text import SQL_DEDUP_MINHASH
from osm_notes_ingestion_spark.sources.synth import sql_country_case, sql_lat_e6, sql_lon_e6

_MAX_MERC_LAT = "85.05112878"


def _tile_sql(points: str, min_zoom: int, max_zoom: int, dims: str) -> str:
    """z/x/y counts over `points` (lat_e6, lon_e6 [, dims]) for zooms
    min_zoom..max_zoom, with the web-mercator formula evaluated in doubles in the
    same operation order as `functions.mercator`."""
    lat = f"LEAST(GREATEST(CAST(lat_e6 AS DOUBLE) / 1e6, -{_MAX_MERC_LAT}), {_MAX_MERC_LAT})"
    lon = "(CAST(lon_e6 AS DOUBLE) / 1e6)"
    n = "CAST(1::BIGINT << z AS DOUBLE)"
    x = f"floor(({lon} + 180.0) / 360.0 * {n})"
    y = f"floor((1.0 - ln(tan(radians({lat})) + 1.0 / cos(radians({lat}))) / pi()) / 2.0 * {n})"
    top = "((1::BIGINT << z) - 1)"
    sel_dims = f", {dims}" if dims else ""
    return f"""
      SELECT z,
             CAST(LEAST(GREATEST({x}, 0), {top}) AS BIGINT) AS x,
             CAST(LEAST(GREATEST({y}, 0), {top}) AS BIGINT) AS y{sel_dims},
             count(*) AS cnt
      FROM {points}, range({min_zoom}, {max_zoom + 1}) r(z)
      WHERE lat_e6 IS NOT NULL
      GROUP BY ALL"""


class Oracle:
    def __init__(self, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")

    def close(self) -> None:
        self.con.close()

    def register_points(self, view: str, events_dir: str, fanout: int) -> None:
        """`view`(id, ts, lat_e6, lon_e6, country_id): the ground truth for
        every page `sources.synth.pages_df(events_dir, fanout)` renders."""
        self.con.execute(
            f"""CREATE OR REPLACE VIEW {view} AS
            SELECT id, ts, lat_e6, lon_e6, {sql_country_case()} AS country_id FROM (
              SELECT id, ts, {sql_lat_e6('id')} AS lat_e6, {sql_lon_e6('id')} AS lon_e6 FROM (
                SELECT event_id * {fanout} + i AS id, ts
                FROM read_parquet('{events_dir}/events.parquet/*.parquet'), range({fanout}) f(i)))"""
        )

    def register_documents(self, path: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{path}')")

    def assignments_sql(self, view: str, where: str = "TRUE") -> str:
        return f"SELECT id, country_id FROM {view} WHERE {where}"

    def tiles_sql(
        self, view: str, max_zoom: int, by_country: bool, where: str = "TRUE", min_zoom: int = 0
    ) -> str:
        points = f"(SELECT * FROM {view} WHERE {where})"
        return _tile_sql(points, min_zoom, max_zoom, "country_id" if by_country else "")

    def dedup_pairs(self) -> set[tuple[int, int]]:
        return {(a, b) for a, b in self.con.execute(SQL_DEDUP_MINHASH).fetchall()}

    def mismatches(self, engine_parquet_dir: str, expected_sql: str, columns: str) -> int:
        """Rows in either side that the other lacks (multiset difference)."""
        got = f"SELECT {columns} FROM read_parquet('{engine_parquet_dir}/*.parquet')"
        want = f"SELECT {columns} FROM ({expected_sql})"
        (n,) = self.con.execute(
            f"""SELECT count(*) FROM (
                  (({got}) EXCEPT ALL ({want})) UNION ALL (({want}) EXCEPT ALL ({got})))"""
        ).fetchone()
        return int(n)
