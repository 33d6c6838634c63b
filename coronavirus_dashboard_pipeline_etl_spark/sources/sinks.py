"""Sinks (SURVEY.md §2.1 S8/S9/S12/S15): JDBC upsert and Redis cache,
both ``foreachPartition``-shaped, with imports gated so the engine needs
neither driver installed until the sink actually runs.

These mirror the reference's loaders:
* chunked ``INSERT ... ON CONFLICT (hash, partition_id) DO UPDATE``
  (``db_etl_upload/uploader.py:302-336``, chunk=8000 rows,
  ``db_tables/covid19.py:48``);
* Redis SET pipeline with TTL (``cache_prepopulate/process.py:41-75``,
  ``caching/redis.py:32-101``, TTL 12 days).

For the parquet serving store the upsert is
plans.main_pipeline.merge_upsert_store (batch dedup, then an append
of the batch plus tombstones, read merged by read_store — no external
service needed); streaming.ingest.upsert_batch is its foreachBatch-sink
name.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

DB_INSERT_MAX_ROWS = 8_000  # reference chunk size (db_tables/covid19.py:48)
REDIS_TTL_SECONDS = 12 * 24 * 60 * 60  # caching/redis.py:38


def upsert_sql(
    table: str,
    columns: Sequence[str],
    conflict_cols: Sequence[str],
    update_cols: Sequence[str],
    placeholder: str = "%s",
) -> str:
    """The ON CONFLICT statement jdbc_upsert executes, exposed so tests
    and callers can inspect it (reference text:
    ``db_etl_upload/uploader.py:302-336``)."""
    conflict = ", ".join(conflict_cols)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_cols)
    placeholders = ", ".join([placeholder] * len(columns))
    return (
        f"INSERT INTO {table} ({', '.join(columns)}) VALUES ({placeholders}) "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def jdbc_upsert(
    df: DataFrame,
    dsn: str,
    table: str,
    conflict_cols: Sequence[str] = ("hash", "partition_id"),
    update_cols: Sequence[str] = ("payload",),
    chunk_rows: int = DB_INSERT_MAX_ROWS,
    connect=None,
    placeholder: str = "%s",
) -> None:
    """Distributed upsert: every partition opens one connection and
    writes its rows in ``chunk_rows`` batches with ON CONFLICT DO UPDATE.

    Executor-side parallelism replaces the reference's per-file Azure
    Function fan-out; partition count bounds connection count (repartition
    before calling to tune).

    ``connect`` injects a DB-API connection factory (``dsn -> conn``) —
    default is psycopg2; any driver whose cursors support
    ``executemany`` + context management works (tests drive sqlite
    through it; the SQL itself comes from ``upsert_sql`` with
    ``placeholder`` adapted to the driver's paramstyle)."""
    columns = list(df.columns)
    sql = upsert_sql(table, columns, conflict_cols, update_cols, placeholder)

    def write_partition(rows) -> None:
        if connect is not None:
            conn = connect(dsn)
        else:
            try:
                import psycopg2  # noqa: PLC0415
            except ImportError as err:  # pragma: no cover
                raise RuntimeError(
                    "jdbc_upsert needs psycopg2 on the executors"
                ) from err
            conn = psycopg2.connect(dsn)
        try:
            with conn.cursor() as cur:
                buf = []
                for row in rows:
                    buf.append(tuple(row[c] for c in columns))
                    if len(buf) >= chunk_rows:
                        cur.executemany(sql, buf)
                        buf.clear()
                if buf:
                    cur.executemany(sql, buf)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    df.foreachPartition(write_partition)


def redis_cache_sink(
    df: DataFrame,
    url: str,
    key_col: str = "cache_key",
    value_col: str = "cache_value",
    ttl_seconds: int = REDIS_TTL_SECONDS,
) -> None:
    """Landing-cache writer: one pipelined Redis connection per partition
    (the reference does one SET per row from the driver)."""

    def write_partition(rows) -> None:
        try:
            import redis  # noqa: PLC0415
        except ImportError as err:  # pragma: no cover
            raise RuntimeError(
                "redis_cache_sink needs redis-py on the executors"
            ) from err
        client = redis.Redis.from_url(url)
        pipe = client.pipeline(transaction=False)
        n = 0
        for row in rows:
            pipe.set(row[key_col], row[value_col], ex=ttl_seconds)
            n += 1
            if n % 1000 == 0:
                pipe.execute()
        pipe.execute()

    df.foreachPartition(write_partition)
