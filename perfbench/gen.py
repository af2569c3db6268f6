"""Seeded input for the `etl_star` workload.

A Sparkify-shaped JSON log, the star build's input: the events of a source
scale replicated `replicas` times, each replica shifted by a seeded
event-id offset and a seeded timestamp offset, plus a songs log derived
from the source's `part` table. The field shapes and derivation rules are
those `graft.sources.Fixtures` documents for its events and songs
fixtures (epoch-ms `tsMillis`, string `userIdStr` with anonymous users,
song keys attached to two thirds of the events), so `Etl.run` reads it
exactly as it reads its own fixtures.

Same seed, same bytes; a different seed moves the offsets, which changes
which events match a song and so the star's row counts.
"""
import os
import random

import duckdb

ID_STRIDE = 10_000_000      # replica r owns ids [r * stride, (r + 1) * stride)
ID_JITTER = 1_000_000       # source ids stay below stride - jitter
TS_SPAN_S = 366 * 86400     # timestamp offsets fall within a year
EVENT_FILES = 16            # the COPY analog fans ingest across files
SONG_FILES = 8


def offsets(seed, replicas):
    """(replica, id offset, timestamp offset in seconds) per replica."""
    rng = random.Random(seed)
    return [(r, r * ID_STRIDE + rng.randrange(ID_JITTER), rng.randrange(TS_SPAN_S))
            for r in range(replicas)]


EVENTS_SQL = """
WITH ev AS (
  SELECT eid, ms, uid, event_type, value, props,
         CASE WHEN eid % 3 < 2 THEN eid % (SELECT count(*) FROM part) END AS pkey
  FROM (SELECT e.event_id + o.id_off AS eid,
               epoch_ms(e.ts + to_seconds(o.ts_off)) AS ms,
               e.user_id AS uid, e.event_type, e.value, e.props
        FROM read_parquet('{src}/events.parquet') e CROSS JOIN offs o)),
part AS (SELECT p_partkey, p_brand, p_name, p_retailprice
         FROM read_parquet('{src}/part.parquet'))
SELECT eid AS eventId, ms AS tsMillis,
  CAST(ms AS DOUBLE) + 0.5 AS registrationMs,
  CASE WHEN uid % 37 = 0 THEN NULL ELSE CAST(uid AS VARCHAR) END AS userIdStr,
  event_type AS eventKind, value AS valueNum, props AS propsJson,
  CASE WHEN eid % 13 = 0 THEN NULL
       WHEN eid % 3 = 2 THEN 'Unknown Artist ' || eid
       ELSE p_brand END AS artistName,
  CASE WHEN eid % 3 = 2 THEN 'Untitled ' || eid ELSE p_name END AS songTitle,
  CASE WHEN eid % 3 = 2 THEN value ELSE p_retailprice END AS songLenNum,
  CAST(eid % 499 AS INTEGER) AS sessionId,
  CASE WHEN uid % 2 = 0 THEN 'free' ELSE 'paid' END AS levelStr,
  'First' || (uid % 100) AS firstName,
  'Last' || (uid % 100) AS lastName,
  CASE WHEN uid % 2 = 0 THEN 'M' ELSE 'F' END AS gender,
  'City' || (uid % 50) AS locationStr,
  'UA/' || (eid % 7) AS userAgentStr,
  eid % {files} AS file_no
FROM ev LEFT JOIN part ON part.p_partkey = ev.pkey
"""

SONGS_SQL = """
SELECT 1 AS num_songs,
  'AR' || replace(p_brand, '#', '') || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS artist_id,
  CASE WHEN p_partkey % 7 = 0 THEN NULL
       ELSE CAST(fmod(fmod(p_retailprice, 180.0) + 180.0, 180.0) - 90.0 AS DECIMAL(11,3))
  END AS artist_latitude,
  CASE WHEN p_partkey % 11 = 0 THEN NULL
       ELSE CAST(fmod(fmod(p_retailprice * 2, 360.0) + 360.0, 360.0) - 180.0 AS DECIMAL(11,3))
  END AS artist_longitude,
  p_type AS artist_location, p_brand AS artist_name,
  'SO' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS song_id,
  p_name AS title,
  CAST(p_retailprice AS DECIMAL(12,6)) AS duration,
  1990 + p_size % 30 AS year,
  p_partkey % {files} AS file_no
FROM read_parquet('{src}/part.parquet')
"""


def _write_files(con, table, out_dir, files, order):
    os.makedirs(out_dir, exist_ok=True)
    for k in range(files):
        path = os.path.join(out_dir, f"part-{k:05d}.json")
        con.execute(f"COPY (SELECT * EXCLUDE (file_no) FROM {table} "
                    f"WHERE file_no = {k} ORDER BY {order}) TO '{path}' (FORMAT json)")
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def generate(src_dir, out_dir, seed, replicas):
    """Write events_json/ and songs_json/ (each with a _SUCCESS marker)
    under out_dir; return the number of event rows."""
    con = duckdb.connect()
    con.execute("SET threads = 1")   # one writer thread: byte-identical output
    con.execute("CREATE TABLE offs (r INTEGER, id_off BIGINT, ts_off BIGINT)")
    con.executemany("INSERT INTO offs VALUES (?, ?, ?)", offsets(seed, replicas))
    (max_id,) = con.execute(
        f"SELECT max(event_id) FROM read_parquet('{src_dir}/events.parquet')").fetchone()
    if max_id >= ID_STRIDE - ID_JITTER:
        raise ValueError(f"source event ids reach {max_id}; replicas would collide")
    con.execute("CREATE TABLE events AS " + EVENTS_SQL.format(src=src_dir, files=EVENT_FILES))
    con.execute("CREATE TABLE songs AS " + SONGS_SQL.format(src=src_dir, files=SONG_FILES))
    _write_files(con, "events", os.path.join(out_dir, "events_json"), EVENT_FILES, "eventId")
    _write_files(con, "songs", os.path.join(out_dir, "songs_json"), SONG_FILES, "song_id")
    (rows,) = con.execute("SELECT count(*) FROM events").fetchone()
    con.close()
    return rows
