"""Tests for the SPARQL source machinery, sqlite export, and CLI."""

from __future__ import annotations

import sqlite3
import subprocess
import sys
from pathlib import Path
from urllib.error import HTTPError

import pytest

from setup_harvest_action_spark.sources.sparql import (
    FakeSparqlEndpoint,
    bindings_to_rows,
    create_sparql_query,
    fetch_with_backoff,
    get_member_count,
    sparql_source,
)

REPO_ROOT = Path(__file__).resolve().parents[1]


def test_backoff_retries_502_with_exponential_delays():
    endpoint = FakeSparqlEndpoint(n_concepts=10, fail_502_first=2)
    sleeps: list[float] = []
    out = fetch_with_backoff(
        endpoint, "SELECT (COUNT(DISTINCT ?concept) AS ?count) WHERE {}",
        max_retries=3, base_delay=1.0, sleep=sleeps.append,
    )
    # two 502s -> delays 1s, 2s (base * 2^attempt, harvest.py:150)
    assert sleeps == [1.0, 2.0]
    assert out["results"]["bindings"][0]["count"]["value"] == "10"


def test_backoff_gives_up_after_max_retries():
    endpoint = FakeSparqlEndpoint(n_concepts=10, fail_502_first=99)
    sleeps: list[float] = []
    with pytest.raises(RuntimeError, match="SPARQL query failed"):
        fetch_with_backoff(endpoint, "q", max_retries=3, base_delay=1.0,
                           sleep=sleeps.append)
    assert sleeps == [1.0, 2.0]  # third attempt raises, no third sleep


def test_non_502_errors_do_not_retry():
    calls = []

    def transport(q):
        calls.append(q)
        raise HTTPError("http://x", 500, "Internal", None, None)

    with pytest.raises(RuntimeError):
        fetch_with_backoff(transport, "q", max_retries=3, sleep=lambda s: None)
    assert len(calls) == 1


def test_query_text_matches_reference_shape():
    q = create_sparql_query("http://vocab.example/c", limit=1000, offset=2000)
    for frag in ("SELECT DISTINCT ?concept ?prefLabel ?altLabel ?definition",
                 "skos:member ?concept",
                 "OPTIONAL { ?concept skos:prefLabel ?prefLabel }",
                 "ORDER BY ?concept", "LIMIT 1000", "OFFSET 2000"):
        assert frag in q, frag
    with pytest.raises(ValueError):
        create_sparql_query("not-a-uri")


def test_bindings_absent_optionals_become_none():
    rows = bindings_to_rows({"results": {"bindings": [
        {"concept": {"value": "u"}, "prefLabel": {"value": "p"}},
    ]}})
    assert rows == [("u", "p", None, None)]


def test_sparql_source_distributed_fetch(spark):
    endpoint = FakeSparqlEndpoint(n_concepts=250)
    df = sparql_source(spark, "http://vocab.example/collection", endpoint,
                       page_size=100)
    rows = df.collect()
    # 250 concepts + one extra cross-product row per i % 10 == 0
    assert len(rows) == 250 + 25
    assert get_member_count(endpoint, "http://vocab.example/collection") == 250
    by_concept = {}
    for r in rows:
        by_concept.setdefault(r["concept"], []).append(r)
    assert len(by_concept) == 250
    # optionality shape survives the JSON -> DataFrame path
    c1 = by_concept["http://vocab.example/collection/c00001"][0]
    assert c1["altLabel"] is None and c1["definition"] is None


def test_sqlite_export_roundtrip(spark, tmp_path):
    import datetime as dt

    from setup_harvest_action_spark.harvest.load import HarvestState, harvest_batch
    from setup_harvest_action_spark.io.sqlite_export import export_sqlite
    from setup_harvest_action_spark.schemas import SPARQL_BINDINGS

    bindings = spark.createDataFrame(
        [("http://v.example/a", "A", "A-alt", "def a"),
         ("http://v.example/b", "B", None, None)],
        SPARQL_BINDINGS,
    )
    state, _ = harvest_batch(HarvestState.empty(spark), bindings,
                             dt.datetime(2026, 1, 1))
    db = str(tmp_path / "out.db")
    counts = export_sqlite(state.terms, state.term_fields, db)
    # a -> prefLabel + altLabel + definition, b -> prefLabel only
    assert counts == {"terms": 2, "term_fields": 4}

    conn = sqlite3.connect(db)
    assert conn.execute("SELECT count(*) FROM terms").fetchone()[0] == 2
    uri, = conn.execute(
        "SELECT uri FROM terms WHERE id = 1").fetchone()
    assert uri == "http://v.example/a"
    # FK integrity holds inside sqlite itself
    orphans = conn.execute("""
        SELECT count(*) FROM term_fields tf
        WHERE NOT EXISTS (SELECT 1 FROM terms t WHERE t.id = tf.term_id)
    """).fetchone()[0]
    assert orphans == 0
    # the full reference schema is present (harvest.py:161-289)
    tables = {r[0] for r in conn.execute(
        "SELECT name FROM sqlite_master WHERE type = 'table'")}
    assert {"terms", "term_fields", "translations", "appeals",
            "appeal_messages", "users"} <= tables
    # downstream rows a consumer added survive a re-export (the
    # reference's rerun contract, harvest.py:163-168): the export
    # upserts, it never deletes-and-reloads.
    conn.execute("""
        INSERT INTO translations (term_field_id, language, value, created_by)
        VALUES (1, 'nl', 'vertaling', 'tester')
    """)
    conn.commit()
    conn.close()

    counts2 = export_sqlite(state.terms, state.term_fields, db)
    assert counts2 == {"terms": 2, "term_fields": 4}  # idempotent
    conn = sqlite3.connect(db)
    assert conn.execute("SELECT count(*) FROM translations").fetchone()[0] == 1
    conn.close()


def test_sqlite_export_fresh_ids_follow_state_ids(spark, tmp_path):
    """On a fresh database the exported ids are the state's dense ids
    (the reference's AUTOINCREMENT uri order), whatever the shuffle
    layout of the state frames: the partition order of this two-row
    state differs between the partition counts tried."""
    import datetime as dt

    from setup_harvest_action_spark.harvest.load import HarvestState, harvest_batch
    from setup_harvest_action_spark.io.sqlite_export import export_sqlite
    from setup_harvest_action_spark.schemas import SPARQL_BINDINGS

    bindings = spark.createDataFrame(
        [("http://v.example/a", "A", "A-alt", "def a"),
         ("http://v.example/b", "B", None, None)],
        SPARQL_BINDINGS,
    )
    state, _ = harvest_batch(HarvestState.empty(spark), bindings,
                             dt.datetime(2026, 1, 1))
    want_terms = sorted((r["id"], r["uri"]) for r in state.terms.collect())
    want_fields = sorted(
        (r["id"], r["term_id"], r["field_uri"], r["original_value"])
        for r in state.term_fields.collect()
    )
    assert [i for i, _ in want_terms] == [1, 2]

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        for n in (2, 4, 5, 8, 200):
            spark.conf.set(key, str(n))
            db = str(tmp_path / f"fresh_{n}.db")
            export_sqlite(state.terms, state.term_fields, db)
            conn = sqlite3.connect(db)
            got_terms = conn.execute(
                "SELECT id, uri FROM terms ORDER BY id").fetchall()
            got_fields = conn.execute(
                "SELECT id, term_id, field_uri, original_value "
                "FROM term_fields ORDER BY id").fetchall()
            conn.close()
            assert got_terms == want_terms, n
            assert got_fields == want_fields, n
    finally:
        spark.conf.set(key, old)


def test_cli_error_taxonomy_no_spark():
    # Usage error path exits 1 with the reference's message shape —
    # cheap (argparse + ValueError before any Spark session).
    from setup_harvest_action_spark.cli import main

    assert main(["harvest"]) == 1


@pytest.mark.slow
def test_cli_end_to_end_fake_endpoint(tmp_path):
    db = str(tmp_path / "translations.db")
    proc = subprocess.run(
        [sys.executable, "-m", "setup_harvest_action_spark", "harvest",
         "--fake-endpoint", "120", "--db", db,
         "--state-dir", str(tmp_path / "state"), "--batch-size", "50"],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "New terms inserted: 120" in proc.stdout
    conn = sqlite3.connect(db)
    assert conn.execute("SELECT count(*) FROM terms").fetchone()[0] == 120
    conn.close()


def test_cli_bucketed_end_to_end(tmp_path):
    """--bucketed drives the partition-pruned merge from the CLI:
    bucketed parquet state on disk, same summary numbers, same sqlite
    export — the large-state form is one flag, not another tool."""
    db = str(tmp_path / "translations.db")
    state = str(tmp_path / "state")
    proc = subprocess.run(
        [sys.executable, "-m", "setup_harvest_action_spark", "harvest",
         "--fake-endpoint", "120", "--db", db, "--bucketed",
         "--state-buckets", "8", "--state-dir", state],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "New terms inserted: 120" in proc.stdout
    conn = sqlite3.connect(db)
    assert conn.execute("SELECT count(*) FROM terms").fetchone()[0] == 120
    conn.close()
    import os

    import json

    with open(os.path.join(state, "terms", "_manifest.json"),
              encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert 1 <= len(manifest["buckets"]) <= 8
    for rel in manifest["buckets"].values():
        assert os.path.isdir(os.path.join(state, "terms", rel))


def test_sqlite_export_rewires_ids_through_uri(spark, tmp_path):
    """A rebuilt state (fresh --state-dir, persistent --db) carries
    Spark ids that diverge from the existing db's: the export must
    resolve term_fields through uri, never trust state-local ids."""
    import datetime as dt

    from setup_harvest_action_spark.harvest.load import HarvestState, harvest_batch
    from setup_harvest_action_spark.io.sqlite_export import export_sqlite
    from setup_harvest_action_spark.schemas import SPARQL_BINDINGS

    db = str(tmp_path / "persistent.db")
    first = spark.createDataFrame(
        [("http://v.example/a", "A", None, None),
         ("http://v.example/b", "B", None, None)],
        SPARQL_BINDINGS,
    )
    state1, _ = harvest_batch(HarvestState.empty(spark), first,
                              dt.datetime(2026, 1, 1))
    export_sqlite(state1.terms, state1.term_fields, db)

    # rebuilt state: b arrives FIRST, so its state-local ids flip
    # relative to the db's (b would collide with a's db id)
    second = spark.createDataFrame(
        [("http://v.example/b", "B", "B-alt", None),
         ("http://v.example/a", "A", None, None),
         ("http://v.example/c", "C", None, None)],
        SPARQL_BINDINGS,
    )
    state2, _ = harvest_batch(HarvestState.empty(spark), second,
                              dt.datetime(2026, 2, 1))
    counts = export_sqlite(state2.terms, state2.term_fields, db)
    assert counts["terms"] == 3

    conn = sqlite3.connect(db)
    # every field row hangs off the term whose uri produced it
    rows = conn.execute("""
        SELECT t.uri, tf.field_term, tf.original_value
        FROM term_fields tf JOIN terms t ON t.id = tf.term_id
        ORDER BY t.uri, tf.field_term
    """).fetchall()
    conn.close()
    assert ("http://v.example/b", "skos:altLabel", "B-alt") in rows
    by_uri = {}
    for uri, field, value in rows:
        by_uri.setdefault(uri, set()).add((field, value))
    assert by_uri["http://v.example/a"] == {("skos:prefLabel", "A")}
    assert by_uri["http://v.example/c"] == {("skos:prefLabel", "C")}
    assert by_uri["http://v.example/b"] == {("skos:prefLabel", "B"),
                                            ("skos:altLabel", "B-alt")}


def test_urllib_transport_posts_sparql_json(monkeypatch):
    """The production transport must POST the query form-encoded with
    the sparql-results+json Accept header (the reference's wire shape,
    harvest.py:102-106) — verified against a patched urlopen, no
    network."""
    import io
    import json
    import pickle
    import urllib.request

    from setup_harvest_action_spark.sources.sparql import UrllibTransport

    seen = {}

    class FakeResp(io.BytesIO):
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def fake_urlopen(req, timeout=None):
        seen["url"] = req.full_url
        seen["method"] = req.get_method()
        seen["body"] = req.data.decode("utf-8")
        seen["accept"] = req.get_header("Accept")
        seen["timeout"] = timeout
        return FakeResp(json.dumps(
            {"results": {"bindings": [{"count": {"value": "7"}}]}}
        ).encode("utf-8"))

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    t = UrllibTransport("http://sparql.example/endpoint", timeout=12.5)
    out = t("SELECT (COUNT(DISTINCT ?concept) AS ?count) WHERE { }")
    assert out["results"]["bindings"][0]["count"]["value"] == "7"
    assert seen["url"] == "http://sparql.example/endpoint"
    assert seen["method"] == "POST"
    assert seen["body"].startswith("query=SELECT")
    assert seen["accept"] == "application/sparql-results+json"
    assert seen["timeout"] == 12.5
    # must survive stock pickle — it ships to executors in mapInPandas
    t2 = pickle.loads(pickle.dumps(t))
    assert t2.endpoint_url == t.endpoint_url


def test_cli_endpoint_requires_collection():
    from setup_harvest_action_spark.cli import main

    assert main(["harvest", "--endpoint", "http://sparql.example/x"]) == 1


def test_sparql_datasource_paginates(spark):
    """format("sparql") must plan one InputPartition per page (COUNT
    pre-query / pagesize) and deliver the same rows as the mapInPandas
    helper; registration is idempotent."""
    from setup_harvest_action_spark.sources.sparql_datasource import register

    register(spark)
    register(spark)  # re-registration must not raise
    df = (
        spark.read.format("sparql")
        .option("endpoint", "fake:120")
        .option("collection", "http://vocab.example/collection")
        .option("pagesize", "50")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # ceil(120 / 50)
    rows = df.collect()
    # 120 concepts + one cross-product 'bis' row per i % 10 == 0
    assert len(rows) == 132
    by_concept = {}
    for r in rows:
        by_concept.setdefault(r.concept, []).append(r)
    assert len(by_concept) == 120
    c1 = by_concept["http://vocab.example/collection/c00001"][0]
    assert c1.altLabel is None and c1.definition is None
    assert len(by_concept["http://vocab.example/collection/c00010"]) == 2


def test_sparql_datasource_pushes_concept_filter(spark):
    """concept = <uri> must reach the endpoint as a SPARQL FILTER: the
    scan plans ONE partition (no COUNT pre-query, no page sweep) and
    the endpoint returns only that concept's rows."""
    from pyspark.sql import functions as F

    from setup_harvest_action_spark.sources.sparql_datasource import register

    register(spark)
    base = (
        spark.read.format("sparql")
        .option("endpoint", "fake:120")
        .option("collection", "http://vocab.example/collection")
        .option("pagesize", "50")
        .load()
    )
    target = "http://vocab.example/collection/c00010"
    filtered = base.filter(F.col("concept") == target)
    assert filtered.rdd.getNumPartitions() == 1  # vs 3 unfiltered pages
    rows = filtered.collect()
    # c00010: i%10==0 and i%2==0 -> prefLabel + two altLabel rows
    assert len(rows) == 2
    assert {r.concept for r in rows} == {target}
    assert {r.altLabel for r in rows} == {"Alt 10", "Alt 10 bis"}


def test_sparql_datasource_non_uri_filter_not_pushed(spark):
    """A concept equality whose value is not a safely-interpolatable
    URI must NOT be consumed by pushFilters: Spark evaluates it
    post-scan (full page sweep, empty result) instead of the executor
    crashing on query construction."""
    from pyspark.sql import functions as F

    from setup_harvest_action_spark.sources.sparql_datasource import register

    register(spark)
    base = (
        spark.read.format("sparql")
        .option("endpoint", "fake:120")
        .option("collection", "http://vocab.example/collection")
        .option("pagesize", "50")
        .load()
    )
    for bad in ("not-a-uri", "http://vocab.example/a> } FILTER(?x = <b"):
        filtered = base.filter(F.col("concept") == bad)
        assert filtered.rdd.getNumPartitions() == 3  # unfiltered page sweep
        assert filtered.collect() == []


def test_sparql_datasource_pushed_concept_exceeds_pagesize(spark):
    """The pushed-concept partition carries NO LIMIT: a concept whose
    OPTIONAL cross-product exceeds pagesize must return every row, not
    a silently truncated page."""
    from pyspark.sql import functions as F

    from setup_harvest_action_spark.sources.sparql_datasource import register

    register(spark)
    base = (
        spark.read.format("sparql")
        .option("endpoint", "fake:120")
        .option("collection", "http://vocab.example/collection")
        .option("pagesize", "1")
        .load()
    )
    target = "http://vocab.example/collection/c00010"
    rows = base.filter(F.col("concept") == target).collect()
    assert len(rows) == 2  # > pagesize=1; the old LIMIT truncated to 1
    assert {r.altLabel for r in rows} == {"Alt 10", "Alt 10 bis"}


def test_schema_evolution_mergeschema_read(spark, tmp_path):
    """Pipelines at scale accrete columns over time; reading a landing
    directory whose older files lack a newer column must union the
    schemas (mergeSchema) with nulls backfilled — not fail, not
    silently drop the column.  Pin both the merged shape and the
    explicit-schema fast path the loaders use (no footer merging when
    the schema is declared)."""
    import os

    import pyspark.sql.functions as F

    d = str(tmp_path / "landing")
    os.makedirs(d)
    spark.createDataFrame(
        [(1, "a")], "id long, text string"
    ).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(2, "b", "en")], "id long, text string, lang string"
    ).coalesce(1).write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "text", "lang"}
    rows = {r["id"]: r["lang"] for r in merged.collect()}
    assert rows == {1: None, 2: "en"}

    # explicit schema: no footer merge pass, old files read with null
    # backfill for the declared-but-absent column
    declared = spark.read.schema("id long, text string, lang string").parquet(d)
    assert {r["id"]: r["lang"] for r in declared.collect()} == rows
    assert declared.filter(F.col("lang").isNull()).count() == 1


def test_sparql_stream_latest_offset_sees_growth_per_poll(tmp_path):
    """latestOffset re-runs the COUNT pre-query on EVERY poll, so a
    continuously-running stream (processingTime trigger, reader
    instance never rebuilt) picks up a growing collection trigger over
    trigger — not just across query restarts.  Offsets stay monotonic
    when the endpoint reports a shrunken collection."""
    from setup_harvest_action_spark.sources.sparql_datasource import (
        SparqlStreamReader,
    )

    count_file = tmp_path / "n.txt"
    count_file.write_text("400")
    reader = SparqlStreamReader(
        {
            "endpoint": f"fakefile:{count_file}",
            "collection": "http://vocab.example/collection",
            "pagesize": "200",
        }
    )
    assert reader.latestOffset() == {"page": 2}
    count_file.write_text("800")  # collection grows mid-run
    assert reader.latestOffset() == {"page": 4}, (
        "latestOffset cached the __init__ count — growth invisible "
        "until restart"
    )
    count_file.write_text("200")  # shrink: offsets must not rewind
    assert reader.latestOffset() == {"page": 4}


def test_sparql_stream_checkpoint_resumes_on_growth(spark, tmp_path):
    """The streaming SPARQL source must checkpoint its page offset: a
    second availableNow run against a GROWN collection (larger fake
    endpoint, same checkpoint) harvests only the new pages — no page
    re-fetched, no page skipped, final rows == one batch read of the
    full collection."""
    from setup_harvest_action_spark.sources.sparql_datasource import register

    register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain(n_concepts: int) -> None:
        stream = (
            spark.readStream.format("sparql")
            .option("endpoint", f"fake:{n_concepts}")
            .option("collection", "http://vocab.example/collection")
            .option("pagesize", "200")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(400)
    first = spark.read.parquet(out).count()
    drain(800)  # collection grew; same checkpoint
    got = spark.read.parquet(out)
    batch = (
        spark.read.format("sparql")
        .option("endpoint", "fake:800")
        .option("collection", "http://vocab.example/collection")
        .option("pagesize", "200")
        .load()
    )
    assert first == batch.count() // 2  # 400-concept prefix: half the rows
    assert got.count() == batch.count()
    # no duplicates: every concept row set matches the batch read exactly
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_json_corrupt_records_quarantined(spark, tmp_path):
    """PERMISSIVE JSON parsing must load every well-formed row and
    quarantine malformed lines into the corrupt-record column instead
    of failing the job or silently dropping them — the production
    posture for 100 TB of third-party JSON (DROPMALFORMED loses data
    invisibly; FAILFAST turns one bad line into a dead pipeline)."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "v": 10.5}\n'
        "{broken json!!\n"
        '{"id": 2, "v": null}\n'
        '{"id": 3, "v": "not-a-number"}\n'
    )
    df = (
        spark.read.schema("id long, v double, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["v"] == 10.5 and rows[1]["_corrupt_record"] is None
    assert rows[2]["v"] is None and rows[2]["_corrupt_record"] is None
    bad = [r for r in df.collect() if r["_corrupt_record"] is not None]
    # the broken line AND the type-mismatched line are both quarantined
    assert len(bad) == 2
    assert any("broken" in r["_corrupt_record"] for r in bad)


def test_cli_catalog_list_and_errors(capsys):
    """The catalog subcommand lists every registered query with its
    verification mode, and bad invocations exit through the reference
    error taxonomy."""
    from setup_harvest_action_spark.catalog import load_catalog
    from setup_harvest_action_spark.cli import main

    assert main(["catalog", "--list"]) == 0
    out = capsys.readouterr().out
    queries, oracles = load_catalog()
    assert out.count("\n") == len(queries)
    assert f"q_pricing_summary  [oracled]" in out
    assert "q_dedup_minhash  [oracled]" in out  # md5-promoted in r10
    # ppm graduated to a full hash oracle in r18 (pixel-arithmetic
    # replay); the stored-ANN lifecycle entry stays rows-only by design
    assert "q_multimodal_ppm_pipeline  [oracled]" in out
    assert "q_similarity_ann_lsh_stored  [rows-only]" in out

    assert main(["catalog"]) == 1
    assert "Invalid input" in capsys.readouterr().out
    assert main(["catalog", "--run", "q_no_such_query"]) == 1
    assert "unknown catalog query" in capsys.readouterr().out


@pytest.mark.usefixtures("restore_spark_conf")
def test_cli_manifest_show_history_compact_vacuum(spark, tmp_path, capsys):
    """The manifest subcommand drives the table-format maintenance
    loop end to end: show -> history -> compact -> vacuum."""
    from setup_harvest_action_spark.cli import main
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
        register_manifest_sink,
        scan_manifest,
    )

    register_manifest_sink(spark)
    path = str(tmp_path / "t")
    spark.range(0, 100).repartition(4).write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)
    spark.range(100, 150).repartition(2).write.format(
        "manifest_parquet"
    ).mode("append").save(path)

    assert main(["manifest", path]) == 0
    out = capsys.readouterr().out
    assert "version 2: 150 rows in 6 files" in out

    assert main(["manifest", path, "--history"]) == 0
    out = capsys.readouterr().out
    assert "v1: 100 rows" in out and "v2: 150 rows, 6 files (latest)" in out

    assert main(["manifest", path, "--compact", "1"]) == 0
    out = capsys.readouterr().out
    assert "compacted to 1 files (version 3, 150 rows)" in out

    assert main(["manifest", path, "--vacuum", "1"]) == 0
    out = capsys.readouterr().out
    assert "reclaimed" in out
    assert read_manifest(path)["total_rows"] == 150
    assert scan_manifest(spark, path).count() == 150


@pytest.mark.usefixtures("restore_spark_conf")
def test_cli_manifest_refs_tag_branch_publish(spark, tmp_path, capsys):
    """The r10-late ref surface: --tag, --branch, --refs, --publish,
    --drop-ref drive write-audit-publish from the command line."""
    from setup_harvest_action_spark.cli import main
    from setup_harvest_action_spark.sources.manifest_sink import (
        register_manifest_sink,
        scan_manifest,
    )
    from setup_harvest_action_spark.sources.manifest_refs import (
        append_to_branch,
    )

    register_manifest_sink(spark)
    path = str(tmp_path / "t")
    spark.range(0, 10).write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)

    assert main(["manifest", path, "--tag", "base"]) == 0
    assert "tag 'base' -> v1" in capsys.readouterr().out
    assert main(["manifest", path, "--branch", "staging"]) == 0
    assert "branch 'staging' -> v1" in capsys.readouterr().out

    append_to_branch(spark.range(10, 25), path, "staging")
    assert scan_manifest(spark, path).count() == 10  # main untouched

    assert main(["manifest", path, "--refs"]) == 0
    out = capsys.readouterr().out
    assert "tag    base: v1" in out and "branch staging: v2" in out

    assert main(["manifest", path, "--publish", "staging"]) == 0
    assert "fast-forwarded to 'staging' (version 2, 25 rows)" in (
        capsys.readouterr().out
    )
    assert scan_manifest(spark, path).count() == 25

    assert main(["manifest", path, "--drop-ref", "base"]) == 0
    assert "dropped ref 'base'" in capsys.readouterr().out
    assert main(["manifest", path, "--refs"]) == 0
    assert "base" not in capsys.readouterr().out


@pytest.mark.usefixtures("restore_spark_conf")
def test_cli_manifest_delete_merge_changes(spark, tmp_path, capsys):
    """The r10 CLI surface for the CRUD square: --delete-where,
    --merge-from/--merge-on, and --changes (batch CDC counts)."""
    from setup_harvest_action_spark.cli import main
    from setup_harvest_action_spark.sources.manifest_sink import (
        register_manifest_sink,
        scan_manifest,
    )

    register_manifest_sink(spark)
    path = str(tmp_path / "t")
    src = str(tmp_path / "src")
    spark.range(0, 100).selectExpr("id", "id * 2 AS val").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)

    assert main(["manifest", path, "--delete-where", "id", ">=", "90"]) == 0
    out = capsys.readouterr().out
    assert "90 rows kept" in out
    assert scan_manifest(spark, path).count() == 90

    spark.createDataFrame(
        [(5, -5), (200, 400)], "id LONG, val LONG"
    ).write.parquet(src)
    assert main(
        ["manifest", path, "--merge-from", src, "--merge-on", "id"]
    ) == 0
    out = capsys.readouterr().out
    assert "91 rows" in out
    got = {r["id"]: r["val"] for r in scan_manifest(spark, path).collect()}
    assert got[5] == -5 and got[200] == 400

    assert main(["manifest", path, "--changes", "2", "3"]) == 0
    out = capsys.readouterr().out
    assert "v3: 2 inserts" in out and "v3: 1 deletes" in out

    assert main(
        ["manifest", path, "--merge-from", src]
    ) == 1  # --merge-on required


@pytest.mark.usefixtures("restore_spark_conf")
def test_cli_ann_build_append_search(spark, tmp_path, capsys):
    """End-to-end CLI drive of the stored ANN index: build on a prefix,
    append the rest (O(batch) merge), search with a corpus probe."""
    import pyspark.sql.functions as F

    from setup_harvest_action_spark.cli import main
    from setup_harvest_action_spark.io.loaders import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    full = str(tmp_path / "full.parquet")
    head = str(tmp_path / "head.parquet")
    tail = str(tmp_path / "tail.parquet")
    emb.write.parquet(full)
    emb.filter(F.col("vec_id") < 300).write.parquet(head)
    emb.filter(F.col("vec_id") >= 300).write.parquet(tail)
    idx = str(tmp_path / "idx")

    assert main(["ann", idx, "--build-from", head]) == 0
    assert "built pq index" in capsys.readouterr().out
    assert main(["ann", idx, "--append-from", tail]) == 0
    out = capsys.readouterr().out
    assert "version 2" in out
    assert main(["ann", idx, "--search", "0", "--vectors", full]) == 0
    lines = [
        ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("(")
    ]
    assert 0 < len(lines) <= 10
    top_ids = [int(ln.split(",")[0].lstrip("(")) for ln in lines]
    # takedown verb: delete the top hit, it never comes back
    victim = top_ids[0]
    assert main(["ann", idx, "--delete", str(victim)]) == 0
    out = capsys.readouterr().out
    assert f"deleted from pq index" in out and "rows remain" in out
    assert main(["ann", idx, "--search", "0", "--vectors", full]) == 0
    lines2 = [
        ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("(")
    ]
    assert victim not in [int(ln.split(",")[0].lstrip("(")) for ln in lines2]
    # error taxonomy: no verb
    assert main(["ann", idx]) == 1
    assert "Invalid input" in capsys.readouterr().out
