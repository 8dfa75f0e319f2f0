"""SQLite-compat export sink (O20): write HarvestState to the
reference's database layout.

The reference's only sink is a SQLite file at a fixed path
(reference: harvest.py:181, :392) with DDL-declared tables
(harvest.py:161-289).  The Spark engine's canonical sink is parquet
(HarvestState.write); this module provides bit-compat interchange for
downstream consumers of ``translations.db``.

The export UPSERTS, mirroring the reference's write semantics
(harvest.py:326-372): terms merge on uri (updated_at advances),
term_fields insert-or-ignore on the composite key.  That makes the
export idempotent AND preserves downstream rows (translations, appeals
— tables the harvest never writes, harvest.py:163-168) across
re-exports; a DELETE-and-reload would cascade-delete them through the
FK chain.

Driver-side by design: rows stream through ``toLocalIterator()`` in
batches, so driver memory stays O(batch), but the write itself is a
single process — correct for the compat use-case (the reference's
consumers are single-node SQLite readers), wrong for a 100 TB sink,
and the docstring is the fence: at scale you export an aggregate or a
slice, not the corpus."""

from __future__ import annotations

import itertools
import sqlite3

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Reference DDL, harvest.py:188-289 — the COMPLETE schema, including
# the downstream tables the harvest itself never writes, so a
# translation-workflow consumer can open the exported file directly.
_DDL = """
CREATE TABLE IF NOT EXISTS terms (
    id INTEGER PRIMARY KEY,
    uri TEXT NOT NULL UNIQUE,
    created_at DATETIME,
    updated_at DATETIME
);
CREATE TABLE IF NOT EXISTS term_fields (
    id INTEGER PRIMARY KEY,
    term_id INTEGER NOT NULL,
    field_uri TEXT NOT NULL,
    field_term TEXT NOT NULL,
    original_value TEXT NOT NULL,
    created_at DATETIME,
    updated_at DATETIME,
    FOREIGN KEY (term_id) REFERENCES terms(id) ON DELETE CASCADE,
    UNIQUE(term_id, field_uri, original_value)
);
CREATE TABLE IF NOT EXISTS translations (
    id INTEGER PRIMARY KEY AUTOINCREMENT,
    term_field_id INTEGER NOT NULL REFERENCES term_fields(id) ON DELETE CASCADE,
    language TEXT NOT NULL CHECK(language IN ('nl','fr','de','es','it','pt')),
    value TEXT NOT NULL,
    status TEXT NOT NULL DEFAULT 'draft'
        CHECK(status IN ('draft', 'review', 'approved', 'rejected', 'merged')),
    created_at DATETIME DEFAULT CURRENT_TIMESTAMP,
    updated_at DATETIME DEFAULT CURRENT_TIMESTAMP,
    created_by TEXT NOT NULL,
    modified_at DATETIME,
    modified_by TEXT,
    reviewed_by TEXT,
    UNIQUE(term_field_id, language)
);
CREATE TABLE IF NOT EXISTS appeals (
    id INTEGER PRIMARY KEY AUTOINCREMENT,
    translation_id INTEGER NOT NULL REFERENCES translations(id) ON DELETE CASCADE,
    opened_by TEXT NOT NULL,
    opened_at DATETIME DEFAULT CURRENT_TIMESTAMP,
    closed_at DATETIME,
    status TEXT NOT NULL DEFAULT 'open'
        CHECK(status IN ('open', 'closed', 'resolved')),
    resolution TEXT,
    UNIQUE(translation_id, status)
);
CREATE TABLE IF NOT EXISTS appeal_messages (
    id INTEGER PRIMARY KEY AUTOINCREMENT,
    appeal_id INTEGER NOT NULL REFERENCES appeals(id) ON DELETE CASCADE,
    author TEXT NOT NULL,
    message TEXT NOT NULL,
    created_at DATETIME DEFAULT CURRENT_TIMESTAMP
);
CREATE TABLE IF NOT EXISTS users (
    username TEXT PRIMARY KEY,
    reputation INTEGER DEFAULT 0,
    joined_at DATETIME DEFAULT CURRENT_TIMESTAMP,
    extra TEXT
);
CREATE INDEX IF NOT EXISTS idx_translations_status ON translations(status);
CREATE INDEX IF NOT EXISTS idx_translations_lang ON translations(language);
CREATE INDEX IF NOT EXISTS idx_appeals_status ON appeals(status);
CREATE INDEX IF NOT EXISTS idx_term_fields_term_id ON term_fields(term_id);
"""

_BATCH = 10_000

# terms merge on uri — the reference's insert-or-update (harvest.py:326-349).
# Ids are NEVER forced: the db assigns (and keeps) its own rowids, so an
# existing database's ids stay authoritative across re-exports.  Rows
# stream in state-id order, so on a fresh database the assigned rowids
# ARE the state's dense ids (the reference's AUTOINCREMENT uri order),
# whatever the shuffle partitioning of the state frames.
_UPSERT_TERMS = """
INSERT INTO terms (uri, created_at, updated_at) VALUES (?, ?, ?)
ON CONFLICT(uri) DO UPDATE SET updated_at = excluded.updated_at
"""
# term_fields composite-key dedup — INSERT OR IGNORE (harvest.py:363-372)
_INSERT_FIELDS = """
INSERT OR IGNORE INTO term_fields
    (term_id, field_uri, field_term, original_value, created_at, updated_at)
VALUES (?, ?, ?, ?, ?, ?)
"""


def _stream(
    conn: sqlite3.Connection,
    sql: str,
    df: DataFrame,
    cols: list[str],
    transform=None,
) -> None:
    def to_params(row):
        vals = tuple(
            str(v) if hasattr(v, "isoformat") else v
            for v in (row[c] for c in cols)
        )
        return transform(vals) if transform else vals

    it = (to_params(row) for row in df.toLocalIterator())
    while True:
        batch = list(itertools.islice(it, _BATCH))
        if not batch:
            break
        conn.executemany(sql, batch)


def export_sqlite(terms: DataFrame, term_fields: DataFrame, db_path: str) -> dict:
    """Upsert (terms, term_fields) into ``db_path`` under the full
    reference DDL.  Idempotent: re-exporting the same state changes
    only ``terms.updated_at``; downstream tables are never touched.
    Returns post-export row counts.

    Term ids are resolved THROUGH uri at export time: Spark-assigned
    state ids are state-local, and a rebuilt state (the CLI defaults to
    a fresh --state-dir while --db persists) would otherwise carry ids
    that diverge from an existing database's — silently attaching
    term_fields to the wrong term on uri conflict, or violating the
    terms PK.  So terms insert WITHOUT ids (the db keeps or assigns its
    own), the db's uri→id map is read back (vocabulary-bounded, same
    O(|terms|) driver budget as the export itself), and term_fields
    rows are rewired through ``terms.uri`` before insert.

    Ordering contract: both tables stream in state-id order (``terms``
    by ``id``, ``term_fields`` by ``id``).  On a fresh database SQLite
    therefore assigns exactly the state's dense ids — the reference's
    AUTOINCREMENT order (harvest.py:191) — independent of how the state
    frames happen to be partitioned.  An existing database keeps its
    own ids; new rows append after its max rowid in state-id order."""
    conn = sqlite3.connect(db_path)
    try:
        conn.execute("PRAGMA foreign_keys = ON")  # harvest.py:185
        conn.executescript(_DDL)
        _stream(
            conn, _UPSERT_TERMS, terms.orderBy("id"),
            ["uri", "created_at", "updated_at"],
        )
        uri_to_id = dict(conn.execute("SELECT uri, id FROM terms"))

        def resolve_term_id(vals):
            uri = vals[0]
            if uri not in uri_to_id:
                raise ValueError(
                    f"term_fields row references a uri absent from terms: {uri!r}"
                )
            return (uri_to_id[uri], *vals[1:])

        fields_by_uri = (
            term_fields.alias("tf")
            .join(
                terms.select("id", "uri").alias("t"),
                F.col("tf.term_id") == F.col("t.id"),
            )
            .orderBy(F.col("tf.id"))
            .select(
                "t.uri", "tf.field_uri", "tf.field_term", "tf.original_value",
                "tf.created_at", "tf.updated_at",
            )
        )
        _stream(
            conn,
            _INSERT_FIELDS,
            fields_by_uri,
            ["uri", "field_uri", "field_term", "original_value",
             "created_at", "updated_at"],
            transform=resolve_term_id,
        )
        conn.commit()
        return {
            "terms": conn.execute("SELECT count(*) FROM terms").fetchone()[0],
            "term_fields": conn.execute(
                "SELECT count(*) FROM term_fields"
            ).fetchone()[0],
        }
    finally:
        conn.close()
