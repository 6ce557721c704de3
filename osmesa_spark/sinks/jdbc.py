"""JDBC-style row-upsert sink — the reference's primary output path.

Mirrors `src/analytics/src/main/scala/osmesa/analytics/stats/
ChangesetStatsForeachWriter.scala:11-294` (and the metadata twin
`ChangesetMetadataForeachWriter.scala:10-248`): per-partition DB
connections, `INSERT ... ON CONFLICT (id) DO UPDATE` statements with the
`NOT (augmented_diffs && EXCLUDED.augmented_diffs)` idempotence guard,
chunked execution (batch size 1000) and bounded retry (3 attempts) on
transient lock/contention errors.

Backend: SQLite (stdlib, in-process) standing in for Postgres — it speaks
the same upsert dialect (`ON CONFLICT ... DO UPDATE SET ... WHERE`,
SQLite >= 3.24) and, like the reference's Postgres deployment which installs
`merge_counts` / `merge_measurements` SQL functions
(`deployment/sql/` seed scripts), the merge functions are registered on each
connection (`sqlite3.Connection.create_function`). Map/array columns are
carried as canonical JSON text. Swapping the connection factory for
psycopg2/JDBC changes nothing above the DB-API seam.

Scale shape: the driver never sees the data — `foreachPartition` opens one
connection per partition (the reference opens one per ForeachWriter
partition too), writes chunks of `batch_size`, and the target DB serializes
writers. Contention on one SQLite file is the local stand-in for Postgres
row locks; the retry loop is the same code path either way.
"""

from __future__ import annotations

import json
import sqlite3
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BATCH_SIZE = 1000  # reference: ChangesetStatsForeachWriter batching(1000)
MAX_RETRIES = 3  # reference: retry(3)

_DDL = {
    "changesets": """
        CREATE TABLE IF NOT EXISTS changesets (
            id BIGINT PRIMARY KEY,
            measurements TEXT NOT NULL,
            counts TEXT NOT NULL,
            total_edits BIGINT NOT NULL,
            augmented_diffs TEXT NOT NULL,
            updated_at TEXT NOT NULL
        )""",
    "users": """
        CREATE TABLE IF NOT EXISTS users (
            id BIGINT PRIMARY KEY,
            name TEXT NOT NULL
        )""",
    "hashtags": """
        CREATE TABLE IF NOT EXISTS hashtags (
            id INTEGER PRIMARY KEY AUTOINCREMENT,
            hashtag TEXT NOT NULL UNIQUE
        )""",
    "checkpoints": """
        CREATE TABLE IF NOT EXISTS checkpoints (
            proc_name TEXT PRIMARY KEY,
            sequence BIGINT NOT NULL
        )""",
}

# ChangesetStatsForeachWriter.scala:39-73 — the upsert statement, with the
# sequence-overlap idempotence guard on the UPDATE branch. `excluded.*` is
# the incoming row, bare names the stored row (same scoping as Postgres).
STATS_UPSERT_SQL = """
INSERT INTO changesets (id, measurements, counts, total_edits,
                        augmented_diffs, updated_at)
VALUES (?, ?, ?, ?, ?, datetime('now'))
ON CONFLICT (id) DO UPDATE
SET measurements    = merge_measurements(measurements, excluded.measurements),
    counts          = merge_counts(counts, excluded.counts),
    total_edits     = total_edits + excluded.total_edits,
    augmented_diffs = seq_union(augmented_diffs, excluded.augmented_diffs),
    updated_at      = datetime('now')
WHERE NOT seq_overlap(augmented_diffs, excluded.augmented_diffs)
""".strip()

# ChangesetStatsForeachWriter.scala:90-104 (UpdateUsernamesQuery): a batch
# may carry a NEW name for a known uid — last write wins.
USERS_UPSERT_SQL = """
INSERT INTO users (id, name) VALUES (?, ?)
ON CONFLICT (id) DO UPDATE SET name = excluded.name
""".strip()

# ChangesetMetadataForeachWriter.scala:16-110: hashtags keep their serial id
# forever; conflicts are no-ops.
HASHTAG_INSERT_SQL = """
INSERT INTO hashtags (hashtag) VALUES (?)
ON CONFLICT (hashtag) DO NOTHING
""".strip()

CHECKPOINT_UPSERT_SQL = """
INSERT INTO checkpoints (proc_name, sequence) VALUES (?, ?)
ON CONFLICT (proc_name) DO UPDATE SET sequence = excluded.sequence
""".strip()


# ---------------------------------------------------------------------------
# Postgres deployment dialect
# ---------------------------------------------------------------------------
# The statements above are the SQLite stand-in the tests execute in-process.
# Against the real deployment target the sink emits the statements below —
# each is statement-equivalent (token-for-token after whitespace/comment
# normalization) to the reference writer's quoted SQL, cited per statement.
# tests/test_jdbc_sink.py snapshot-diffs them against the scala sources when
# the reference tree is available AND cross-checks each SQLite stand-in's
# structure (conflict target, guarded branch, merge semantics) against its
# Postgres twin, so dialect drift cannot hide behind the stand-in. The
# jsonb merge sub-selects replace the merge_counts/merge_measurements
# DB-API functions (same element-wise-sum semantics, server-side);
# `coalesce(... ) && EXCLUDED.augmented_diffs` is the sequence-overlap
# idempotence guard that seq_overlap stands in for.

# ChangesetStatsForeachWriter.scala:17-73 (UpdateChangesetsQuery)
PG_STATS_CHANGESETS_UPSERT_SQL = """
WITH data AS (
  SELECT
    ? AS id,
    ? AS user_id,
    ?::jsonb AS measurements,
    ?::jsonb AS counts,
    ? AS total_edits,
    ?::integer[] AS augmented_diffs,
    current_timestamp AS updated_at
)
INSERT INTO changesets AS c (
  id,
  user_id,
  measurements,
  counts,
  total_edits,
  augmented_diffs,
  updated_at
) SELECT * FROM data
ON CONFLICT (id) DO UPDATE
SET
  user_id = coalesce(EXCLUDED.user_id, c.user_id),
  measurements = (
    SELECT jsonb_object_agg(key, value)
    FROM (
      SELECT key, sum((value->>0)::numeric) AS value
      FROM (
        SELECT * from jsonb_each(c.measurements)
        UNION ALL
        SELECT * from jsonb_each(EXCLUDED.measurements)
      ) AS _
      WHERE key IS NOT NULL
      GROUP BY key
    ) AS _
  ),
  counts = (
    SELECT jsonb_object_agg(key, value)
    FROM (
      SELECT key, sum((value->>0)::numeric) AS value
      FROM (
        SELECT * from jsonb_each(c.counts)
        UNION ALL
        SELECT * from jsonb_each(EXCLUDED.counts)
      ) AS _
      WHERE key IS NOT NULL
      GROUP BY key
    ) AS _
  ),
  total_edits = coalesce(c.total_edits, 0) + coalesce(EXCLUDED.total_edits, 0),
  augmented_diffs = coalesce(c.augmented_diffs, ARRAY[]::integer[]) || EXCLUDED.augmented_diffs,
  updated_at = current_timestamp
WHERE c.id = EXCLUDED.id
  AND NOT coalesce(c.augmented_diffs, ARRAY[]::integer[]) && EXCLUDED.augmented_diffs
""".strip()

# ChangesetStatsForeachWriter.scala:75-89 / ChangesetMetadataForeachWriter
# .scala:81-94 (UpdateUsersQuery — shared by both writers): first sighting
# of a uid wins here; name REFRESH is the separate statement below.
PG_USERS_INSERT_SQL = """
WITH data AS (
  SELECT
    ? AS id,
    ? AS name
)
INSERT INTO users AS u (
  id,
  name
) SELECT * FROM data
ON CONFLICT (id) DO NOTHING
""".strip()

# ChangesetStatsForeachWriter.scala:91-105 / ChangesetMetadataForeachWriter
# .scala:96-109 (UpdateUsernamesQuery, gated on shouldUpdateUsernames):
# combined with the DO NOTHING insert this is exactly the SQLite stand-in's
# last-name-wins upsert.
PG_USERNAMES_UPDATE_SQL = """
WITH data AS (
  SELECT
    ? AS id,
    ? AS name
)
UPDATE users u
SET
  name = data.name
FROM data
WHERE u.id = data.id
  AND u.name != data.name
""".strip()

# ChangesetStatsForeachWriter.scala:107-131 (UpdateChangesetCountriesQuery)
PG_CHANGESET_COUNTRIES_UPSERT_SQL = """
WITH data AS (
  SELECT
    ? AS changeset_id,
    id AS country_id,
    ? AS edit_count,
    ? AS augmented_diffs
  FROM countries
  WHERE code = ?
)
INSERT INTO changesets_countries AS cc (
  changeset_id,
  country_id,
  edit_count,
  augmented_diffs
) SELECT * FROM data
ON CONFLICT (changeset_id, country_id) DO UPDATE
SET
  edit_count = cc.edit_count + EXCLUDED.edit_count,
  augmented_diffs = coalesce(cc.augmented_diffs, ARRAY[]::integer[]) || EXCLUDED.augmented_diffs
WHERE cc.changeset_id = EXCLUDED.changeset_id
  AND NOT coalesce(cc.augmented_diffs, ARRAY[]::integer[]) && EXCLUDED.augmented_diffs
""".strip()

# ChangesetMetadataForeachWriter.scala:16-44 (UpdateChangesetsQuery —
# metadata shape: plain column refresh, no merge functions, no guard)
PG_METADATA_CHANGESETS_UPSERT_SQL = """
WITH data AS (
  SELECT
    ? AS id,
    ? AS editor,
    ? AS user_id,
    ?::timestamp with time zone AS created_at,
    ?::timestamp with time zone AS closed_at,
    current_timestamp AS updated_at
)
INSERT INTO changesets AS c (
  id,
  editor,
  user_id,
  created_at,
  closed_at,
  updated_at
) SELECT * FROM data
ON CONFLICT (id) DO UPDATE
SET
  editor = EXCLUDED.editor,
  user_id = EXCLUDED.user_id,
  created_at = EXCLUDED.created_at,
  closed_at = EXCLUDED.closed_at,
  updated_at = current_timestamp
WHERE c.id = EXCLUDED.id
""".strip()

# ChangesetMetadataForeachWriter.scala:46-79 (UpdateChangesetsHashtagsQuery):
# the insert-RETURNING dance — new hashtags take a serial id, existing ones
# keep theirs, and the changeset->hashtag link lands in the same statement.
# The SQLite stand-in resolves the dictionary by re-select after a DO
# NOTHING insert (HASHTAG_INSERT_SQL + upsert_hashtags), which is the same
# stable-serial contract in two steps.
PG_CHANGESETS_HASHTAGS_UPSERT_SQL = """
WITH hashtag_data AS (
  SELECT
    ? AS hashtag
),
ins AS (
  INSERT INTO hashtags AS h (
    hashtag
  ) SELECT * FROM hashtag_data
  ON CONFLICT DO NOTHING
  RETURNING id
),
h AS (
  SELECT id
  FROM ins
  UNION ALL
  SELECT id
  FROM hashtag_data
  JOIN hashtags USING(hashtag)
),
data AS (
  SELECT
    ? AS changeset_id,
    id AS hashtag_id
  FROM h
)
INSERT INTO changesets_hashtags (
  changeset_id,
  hashtag_id
) SELECT * FROM data
ON CONFLICT DO NOTHING
""".strip()

# scala val name -> (writer file, our template) for the snapshot diff
POSTGRES_STATEMENTS = {
    ("ChangesetStatsForeachWriter", "UpdateChangesetsQuery"):
        PG_STATS_CHANGESETS_UPSERT_SQL,
    ("ChangesetStatsForeachWriter", "UpdateUsersQuery"):
        PG_USERS_INSERT_SQL,
    ("ChangesetStatsForeachWriter", "UpdateUsernamesQuery"):
        PG_USERNAMES_UPDATE_SQL,
    ("ChangesetStatsForeachWriter", "UpdateChangesetCountriesQuery"):
        PG_CHANGESET_COUNTRIES_UPSERT_SQL,
    ("ChangesetMetadataForeachWriter", "UpdateChangesetsQuery"):
        PG_METADATA_CHANGESETS_UPSERT_SQL,
    ("ChangesetMetadataForeachWriter", "UpdateChangesetsHashtagsQuery"):
        PG_CHANGESETS_HASHTAGS_UPSERT_SQL,
    ("ChangesetMetadataForeachWriter", "UpdateUsersQuery"):
        PG_USERS_INSERT_SQL,
    ("ChangesetMetadataForeachWriter", "UpdateUsernamesQuery"):
        PG_USERNAMES_UPDATE_SQL,
}


def _merge_json_sum(a: str, b: str, cast=int):
    """Element-wise sum of two JSON objects — the Postgres merge_counts /
    merge_measurements SQL functions the reference installs."""
    da, db = json.loads(a), json.loads(b)
    keys = set(da) | set(db)
    return json.dumps(
        {k: cast(da.get(k, 0)) + cast(db.get(k, 0)) for k in sorted(keys)},
        sort_keys=True,
    )


def _seq_union(a: str, b: str) -> str:
    return json.dumps(sorted(set(json.loads(a)) | set(json.loads(b))))


def _seq_overlap(a: str, b: str) -> int:
    return int(bool(set(json.loads(a)) & set(json.loads(b))))


def connect(db_path: str) -> sqlite3.Connection:
    """One writer connection with the reference's server-side merge
    functions registered (Postgres installs these via deployment SQL)."""
    con = sqlite3.connect(db_path, timeout=60)
    con.execute("PRAGMA busy_timeout=60000")
    con.create_function(
        "merge_counts", 2, lambda a, b: _merge_json_sum(a, b, int)
    )
    con.create_function(
        "merge_measurements", 2, lambda a, b: _merge_json_sum(a, b, float)
    )
    con.create_function("seq_union", 2, _seq_union)
    con.create_function("seq_overlap", 2, _seq_overlap)
    return con


def ensure_schema(db_path: str) -> None:
    con = connect(db_path)
    try:
        for ddl in _DDL.values():
            con.execute(ddl)
        con.commit()
    finally:
        con.close()


def _execute_chunked(db_path: str, sql: str, rows: list[tuple]) -> None:
    """executemany in chunks of BATCH_SIZE with MAX_RETRIES on transient
    lock errors — the reference's batching(1000) + retry(3)."""
    con = connect(db_path)
    try:
        for start in range(0, len(rows), BATCH_SIZE):
            chunk = rows[start : start + BATCH_SIZE]
            for attempt in range(MAX_RETRIES):
                try:
                    con.executemany(sql, chunk)
                    con.commit()
                    break
                except sqlite3.OperationalError:
                    con.rollback()
                    if attempt == MAX_RETRIES - 1:
                        raise
                    time.sleep(0.2 * (attempt + 1))
    finally:
        con.close()


class JdbcStatsSink:
    """Streaming-compatible changeset-stats upsert over a DB-API target.

    `upsert_stats(batch)` takes the same frame shape as
    `ParquetUpsertTable.upsert_stats` — (id, counts map, measurements map,
    total_edits, augmented_diffs array) — so the two sinks are drop-in
    interchangeable behind `run_streaming_stats_to_upsert`-style runners.
    """

    def __init__(self, db_path: str):
        self.db_path = db_path
        ensure_schema(db_path)

    def upsert_stats(self, batch: DataFrame) -> None:
        from osmesa_spark.functions.maps import sum_map_values

        # Pre-merge per (id, sequence-set), NOT per id: collapsing all of an
        # id's sequences into one row would let the overlap guard discard a
        # NEW sequence's edits whenever a replayed sequence rides the same
        # batch (at-least-once redelivery with shifted foreachBatch
        # boundaries). Kept per-sequence, the replayed row is skipped alone
        # and the new row still applies — the PG writer's row-by-row
        # same-(id, sequence) guard semantics. Same-(id, sequence) duplicates
        # within the batch still merge to one row (guard parity).
        merged = batch.groupBy(
            "id", F.array_sort("augmented_diffs").alias("augmented_diffs")
        ).agg(
            sum_map_values(F.collect_list("counts"), "bigint").alias("counts"),
            sum_map_values(F.collect_list("measurements"), "double").alias(
                "measurements"
            ),
            F.sum("total_edits").alias("total_edits"),
        )
        db_path = self.db_path

        def write_partition(rows) -> None:
            payload = [
                (
                    row["id"],
                    json.dumps(
                        dict(row["measurements"] or {}), sort_keys=True
                    ),
                    json.dumps(dict(row["counts"] or {}), sort_keys=True),
                    row["total_edits"],
                    json.dumps(sorted(row["augmented_diffs"] or [])),
                )
                for row in rows
            ]
            if payload:
                _execute_chunked(db_path, STATS_UPSERT_SQL, payload)

        merged.foreachPartition(write_partition)

    def upsert_users(self, batch: DataFrame) -> None:
        merged = (
            batch.select("id", "name")
            .groupBy("id")
            .agg(F.max("name").alias("name"))
        )
        db_path = self.db_path

        def write_partition(rows) -> None:
            payload = [(row["id"], row["name"]) for row in rows]
            if payload:
                _execute_chunked(db_path, USERS_UPSERT_SQL, payload)

        merged.foreachPartition(write_partition)

    def upsert_hashtags(self, batch: DataFrame) -> dict[str, int]:
        """Insert new hashtags (existing keep their serial id), return the
        full dictionary — the RETURNING-id dance, resolved by re-select."""
        tags = [
            r["hashtag"]
            for r in batch.select(F.lower(F.col("hashtag")).alias("hashtag"))
            .distinct()
            .collect()
        ]
        _execute_chunked(self.db_path, HASHTAG_INSERT_SQL, [(t,) for t in tags])
        con = connect(self.db_path)
        try:
            return dict(
                (h, i) for i, h in con.execute("SELECT id, hashtag FROM hashtags")
            )
        finally:
            con.close()

    def save_checkpoint(self, proc_name: str, sequence: int) -> None:
        _execute_chunked(
            self.db_path, CHECKPOINT_UPSERT_SQL, [(proc_name, int(sequence))]
        )

    def load_checkpoint(self, proc_name: str) -> int | None:
        con = connect(self.db_path)
        try:
            row = con.execute(
                "SELECT sequence FROM checkpoints WHERE proc_name = ?",
                (proc_name,),
            ).fetchone()
            return None if row is None else int(row[0])
        finally:
            con.close()

    def read_stats(self) -> list[dict]:
        """Stored rows with JSON columns decoded (test/inspection helper)."""
        con = connect(self.db_path)
        try:
            out = []
            for rid, meas, counts, total, seqs in con.execute(
                "SELECT id, measurements, counts, total_edits, "
                "augmented_diffs FROM changesets ORDER BY id"
            ):
                out.append(
                    {
                        "id": rid,
                        "measurements": json.loads(meas),
                        "counts": json.loads(counts),
                        "total_edits": total,
                        "augmented_diffs": json.loads(seqs),
                    }
                )
            return out
        finally:
            con.close()


def run_streaming_metadata_to_jdbc(
    meta_stream,
    db_path: str,
    checkpoint_dir: str,
    proc_name: str = "changeset-metadata",
):
    """StreamingChangesetMetadataUpdater parity: changeset-metadata stream →
    foreachBatch → users upsert (last name wins) + hashtag dictionary
    insert (stable serials) + checkpoint row."""
    from pyspark.sql import functions as FF

    from osmesa_spark.functions.text import changeset_hashtags

    sink = JdbcStatsSink(db_path)

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        # one materialization: four actions below would otherwise re-run
        # the micro-batch source plan four times (stats_stream sink note)
        mat = batch.localCheckpoint(eager=True)
        try:
            if mat.isEmpty():
                return
            sink.upsert_users(
                mat.select(FF.col("uid").alias("id"), "user")
                .withColumnRenamed("user", "name")
            )
            # scala:110-111 merges hashtags(comment) with the dedicated
            # tags['hashtags'] list — both sources feed the dictionary.
            tags = mat.select(
                FF.explode(changeset_hashtags(FF.col("tags"))).alias("hashtag")
            )
            if not tags.isEmpty():
                sink.upsert_hashtags(tags)
            max_seq = mat.agg(FF.max("sequence")).first()[0]
            if max_seq is not None:
                sink.save_checkpoint(proc_name, int(max_seq))
        finally:
            mat.unpersist()

    return (
        meta_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .start()
    )


def run_streaming_stats_to_jdbc(
    diffs_stream: DataFrame,
    db_path: str,
    checkpoint_dir: str,
    proc_name: str = "augmented-diff-stats",
    countries=None,
):
    """writeStream.foreachBatch → rollup + JDBC upsert + checkpoint row —
    the reference's actual sink chain (ChangesetStatsUpdater → ForeachWriter
    → Postgres). Twin of `run_streaming_stats_to_upsert` with the parquet
    table swapped for the DB; the rollup runs statelessly on the bounded
    micro-batch, and a replayed batch is a no-op under the DB's guard."""
    from osmesa_spark.streaming.stats_stream import stats_upsert_rows

    sink = JdbcStatsSink(db_path)

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        sink.upsert_stats(stats_upsert_rows(batch, countries))
        # max(sequence) is a separate read: foreachPartition's write does
        # not complete an Observation. Checkpointing past it is safe: rows
        # carry single-sequence augmented_diffs, so a redelivered sequence
        # is skipped row-by-row by the guard while unseen ones still apply.
        max_seq = batch.agg(F.max("sequence")).first()[0]
        if max_seq is not None:
            sink.save_checkpoint(proc_name, int(max_seq))

    return (
        diffs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .start()
    )
