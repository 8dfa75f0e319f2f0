"""Manifest-commit parquet sink (sources/manifest_sink.py): the
Python DataSource WRITER surface, with table-format-style atomic
visibility — tasks write parts, one driver-side manifest rename flips
the version; readers see only manifest-listed files."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from setup_harvest_action_spark.sources.manifest_sink import (
    read_manifest,
    register_manifest_sink,
    scan_manifest,
)


@pytest.fixture()
def sink(spark):
    register_manifest_sink(spark)
    return spark


def test_write_commit_scan_roundtrip(sink, tmp_path):
    path = str(tmp_path / "t")
    df = sink.range(0, 1000).selectExpr(
        "id", "id * 2 AS dbl", "concat('r', id) AS tag"
    ).repartition(4)
    df.write.format("manifest_parquet").mode("overwrite").save(path)

    m = read_manifest(path)
    assert m["total_rows"] == 1000
    assert len(m["files"]) == 4  # one part per non-empty partition
    assert all(e["rows"] > 0 and e["bytes"] > 0 for e in m["files"])

    back = scan_manifest(sink, path)
    assert back.count() == 1000
    assert back.selectExpr("sum(dbl)").collect()[0][0] == 999000


def test_uncommitted_parts_are_invisible(sink, tmp_path):
    """The table-format property: a file in data/ that no manifest
    names (crashed job, concurrent writer mid-flight) never reaches a
    reader."""
    path = str(tmp_path / "t")
    sink.range(0, 100).selectExpr("id").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)
    pq.write_table(
        pa.table({"id": pa.array([10**9], pa.int64())}),
        os.path.join(path, "data", "part-orphan.parquet"),
    )
    assert scan_manifest(sink, path).count() == 100


def test_append_merges_manifest_and_skips_empty_partitions(sink, tmp_path):
    path = str(tmp_path / "t")
    sink.range(0, 100).selectExpr("id").repartition(2).write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)
    # 32 partitions for 10 rows -> most partitions empty -> no files
    sink.range(100, 110).selectExpr("id").repartition(32).write.format(
        "manifest_parquet"
    ).mode("append").save(path)
    m = read_manifest(path)
    assert m["total_rows"] == 110
    assert len(m["files"]) <= 2 + 10  # empty partitions wrote nothing
    assert scan_manifest(sink, path).count() == 110


def test_roundtrip_preserves_timestamps_doubles_and_nulls(sink, tmp_path):
    """Arrow conversion in the writer must survive the full fixture
    type surface: timestamps, doubles, strings, and NULLs."""
    import datetime as dt

    path = str(tmp_path / "t")
    rows = [
        (1, dt.datetime(2024, 3, 1, 10, 30, 0, 123456), 1.5, "a"),
        (2, None, None, None),
        (3, dt.datetime(2024, 12, 31, 23, 59, 59), -0.25, "z"),
    ]
    df = sink.createDataFrame(
        rows, "id long, ts timestamp, val double, tag string"
    )
    df.write.format("manifest_parquet").mode("overwrite").save(path)
    back = scan_manifest(sink, path)
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(rows)


def test_stream_manifest_sink_exactly_once(spark, tmp_path):
    """Streaming write through the manifest sink: micro-batches append
    atomically with their batchId recorded; a second availableNow run
    over the same checkpoint adds nothing, and a REPLAYED commit (same
    batchId) is detected and skipped — exactly-once end to end."""
    import json
    import os

    from setup_harvest_action_spark.io.loaders import load_table
    from setup_harvest_action_spark.sources.manifest_sink import (
        MANIFEST,
        read_manifest,
        register_manifest_sink,
        scan_manifest,
    )

    register_manifest_sink(spark)
    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    events.write.parquet(src_dir)
    n_expected = spark.read.parquet(src_dir).count()

    def drain():
        stream = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        q = (
            stream.writeStream.format("manifest_parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    m1 = read_manifest(out)
    assert m1["total_rows"] == n_expected
    assert m1["batches"], m1
    assert scan_manifest(spark, out).count() == n_expected

    drain()  # checkpoint says nothing new: no rows added
    m2 = read_manifest(out)
    assert m2["total_rows"] == n_expected

    # simulate an engine replay: re-commit an already-committed batch
    from setup_harvest_action_spark.sources.manifest_sink import (
        _ManifestStreamWriter,
        _PartMessage,
    )

    w = _ManifestStreamWriter(out, events.schema)
    fake = _PartMessage(file="data/ghost.parquet", rows=999, bytes=1)
    w.commit([fake], batchId=m1["batches"][0])
    m3 = read_manifest(out)
    assert m3["total_rows"] == n_expected  # replay changed nothing
    assert not os.path.exists(os.path.join(out, "data", "ghost.parquet"))
    # a NEW batch id still commits
    w2 = _ManifestStreamWriter(out, events.schema)
    w2.commit([], batchId=max(m3["batches"]) + 1)
    assert read_manifest(out)["total_rows"] == n_expected


def test_stream_manifest_mid_commit_crash_never_exposes_partial_batch(
    spark, tmp_path, monkeypatch
):
    """Crash-consistency of the streamWriter commit path: a driver
    killed (a) after tasks wrote their part files but before commit()
    ran, or (b) INSIDE commit() after the .tmp manifest was written
    but before the atomic os.replace flip, must leave readers on the
    previous committed state — and the engine's replay of the crashed
    batch must then commit it exactly once, orphan parts staying
    invisible forever."""
    import setup_harvest_action_spark.sources.manifest_sink as ms
    from setup_harvest_action_spark.sources.manifest_sink import (
        _ManifestStreamWriter,
        read_manifest,
        scan_manifest,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out = str(tmp_path / "out")
    os.makedirs(out)
    schema = StructType(
        [StructField("id", LongType()), StructField("tag", StringType())]
    )
    rows0 = [(i, f"b0-{i}") for i in range(10)]
    rows1 = [(i, f"b1-{i}") for i in range(100, 107)]

    w = _ManifestStreamWriter(out, schema)
    w.commit([w.write(iter(rows0))], batchId=0)
    assert scan_manifest(spark, out).count() == len(rows0)

    # (a) crash BEFORE commit: parts on disk, no manifest change
    orphan_msg = w.write(iter(rows1))
    assert os.path.exists(os.path.join(out, orphan_msg.file))
    assert read_manifest(out)["total_rows"] == len(rows0)
    assert scan_manifest(spark, out).count() == len(rows0)

    # (b) crash INSIDE commit, after .tmp write, before the flip
    real_replace = os.replace

    def boom(src, dst):
        if dst.endswith(ms.MANIFEST):
            raise RuntimeError("killed before flip")
        return real_replace(src, dst)

    monkeypatch.setattr(ms.os, "replace", boom)
    with pytest.raises(RuntimeError, match="killed before flip"):
        w.commit([orphan_msg], batchId=1)
    monkeypatch.undo()
    m = read_manifest(out)
    assert m["total_rows"] == len(rows0)  # flip never happened
    assert m["batches"] == [0]
    assert scan_manifest(spark, out).count() == len(rows0)

    # restart: the engine replays batch 1 (identical content, fresh
    # task attempt -> fresh part file); exactly-once, orphans invisible
    w2 = _ManifestStreamWriter(out, schema)
    w2.commit([w2.write(iter(rows1))], batchId=1)
    m2 = read_manifest(out)
    assert m2["total_rows"] == len(rows0) + len(rows1)
    assert m2["batches"] == [0, 1]
    got = scan_manifest(spark, out)
    assert got.count() == len(rows0) + len(rows1)  # no dup despite orphan
    # the crashed attempt's part is still on disk but unreferenced
    manifest_files = {e["file"] for e in m2["files"]}
    assert orphan_msg.file not in manifest_files
    assert os.path.exists(os.path.join(out, orphan_msg.file))


def test_versioned_commits_enable_time_travel(sink, tmp_path):
    """Every commit bumps `version` and leaves an immutable snapshot;
    scan_manifest(version=N) reproduces exactly what a reader saw
    after commit N, and never-committed versions are refused."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 100).write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)
    sink.range(100, 150).write.format("manifest_parquet").mode(
        "append"
    ).save(path)
    m = read_manifest(path)
    assert m["version"] == 2 and m["total_rows"] == 150
    assert read_manifest(path, version=1)["total_rows"] == 100
    assert scan_manifest(sink, path, version=1).count() == 100
    assert scan_manifest(sink, path, version=2).count() == 150
    with pytest.raises(ValueError, match="never committed"):
        read_manifest(path, version=9)


def test_compaction_rewrites_parts_atomically_and_vacuum_reclaims(
    sink, tmp_path
):
    """compact() folds many small parts into few through the same
    atomic commit (rows identical, version bumped, streaming batch ids
    carried over); vacuum_manifest() then drops old snapshots and
    every part no retained version references, while the latest
    version keeps scanning."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        compact,
        read_manifest,
        scan_manifest,
        vacuum_manifest,
    )
    from setup_harvest_action_spark.sources.manifest_sink import (
        _ManifestStreamWriter,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    path = str(tmp_path / "t")
    os.makedirs(path)
    schema = StructType([StructField("id", LongType())])
    w = _ManifestStreamWriter(path, schema)
    for b in range(4):  # 4 micro-batches -> 4 parts, versions 1..4
        w.commit([w.write(iter([(b * 10 + i,) for i in range(10)]))], batchId=b)
    before = read_manifest(path)
    assert before["version"] == 4 and len(before["files"]) == 4
    assert before["batches"] == [0, 1, 2, 3]

    after = compact(sink, path, n_parts=1)
    assert after["version"] == 5
    assert len(after["files"]) == 1
    assert after["batches"] == [0, 1, 2, 3]  # stream restart safe
    assert scan_manifest(sink, path).count() == 40
    # pre-compaction content still time-travelable before vacuum
    assert scan_manifest(sink, path, version=4).count() == 40

    removed = vacuum_manifest(path, keep_last=1)
    assert any(r.startswith("_manifest-v") for r in removed)
    assert any(r.startswith("data/") for r in removed)
    assert scan_manifest(sink, path).count() == 40  # latest unharmed
    with pytest.raises(FileNotFoundError):
        read_manifest(path, version=2)
    data = os.listdir(os.path.join(path, "data"))
    assert len(data) == 1  # only the compacted part survives


def test_crash_orphan_snapshot_is_refused_and_vacuumed(sink, tmp_path):
    """A snapshot whose latest-flip never happened (version > latest)
    must be unreadable — it was never committed — and vacuum must
    delete it."""
    import json

    from setup_harvest_action_spark.sources.manifest_sink import (
        SNAPSHOT_FMT,
        read_manifest,
        vacuum_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 10).write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)
    orphan = os.path.join(path, SNAPSHOT_FMT.format(7))
    with open(orphan, "w", encoding="utf-8") as fh:
        json.dump({"files": [{"file": "data/ghost.parquet", "rows": 1,
                              "bytes": 1}], "total_rows": 1, "version": 7}, fh)
    with pytest.raises(ValueError, match="never committed"):
        read_manifest(path, version=7)
    removed = vacuum_manifest(path, keep_last=5)
    assert SNAPSHOT_FMT.format(7) in removed
    assert not os.path.exists(orphan)


def test_manifest_stream_reader_incremental_and_append_only(sink, tmp_path):
    """The manifest table as a streaming SOURCE: version offsets make
    each drain emit exactly the newly committed files; a rewrite
    commit (compaction) fails loudly unless skipchangecommits=true,
    which skips the rewrite but keeps consuming later appends."""
    from setup_harvest_action_spark.io.loaders import load_table
    from setup_harvest_action_spark.sources.manifest_sink import compact

    out = str(tmp_path / "t")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    n = load_table(sink, "/root/testdata/sf0.01", "nation")
    n.filter("n_nationkey < 12").write.format("manifest_parquet").mode(
        "overwrite"
    ).save(out)
    n.filter("n_nationkey >= 12").write.format("manifest_parquet").mode(
        "append"
    ).save(out)

    def drain(**opts):
        s = sink.readStream.format("manifest_parquet").option("path", out)
        for k, v in opts.items():
            s = s.option(k, v)
        q = (
            s.load()
            .writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sink.read.parquet(dst).count() == 25  # both commits
    n.filter("n_nationkey < 3").write.format("manifest_parquet").mode(
        "append"
    ).save(out)
    drain()
    assert sink.read.parquet(dst).count() == 28  # exactly the delta

    compact(sink, out, 1)
    with pytest.raises(Exception, match="rewrote files"):
        drain()
    # skipchangecommits consumes past the rewrite without re-emitting
    drain(skipchangecommits="true")
    assert sink.read.parquet(dst).count() == 28
    # and a post-compaction append still flows
    n.filter("n_nationkey = 5").write.format("manifest_parquet").mode(
        "append"
    ).save(out)
    drain(skipchangecommits="true")
    assert sink.read.parquet(dst).count() == 29


def test_stats_skipping_prunes_files_and_preserves_semantics(sink, tmp_path):
    """Per-file column stats land in the manifest at write time;
    select_files proves pruning (a selective predicate opens ONE of
    four range-disjoint parts) and scan_manifest(where=...) returns
    exactly the rows a full scan + filter would."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
        scan_manifest,
        select_files,
    )

    path = str(tmp_path / "t")
    # 4 parts with disjoint id ranges: repartitionByRange keeps ranges
    sink.range(0, 400).selectExpr(
        "id", "id % 7 AS grp"
    ).repartitionByRange(4, "id").write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)
    m = read_manifest(path)
    assert len(m["files"]) == 4
    assert all("id" in e["stats"] for e in m["files"])

    hit = select_files(m, [("id", "=", 250)])
    assert len(hit) == 1, [e["stats"]["id"] for e in m["files"]]
    lo, hi = hit[0]["stats"]["id"]
    assert lo <= 250 <= hi

    got = sorted(
        r["id"] for r in scan_manifest(
            sink, path, where=[("id", ">=", 100), ("id", "<", 110)]
        ).collect()
    )
    assert got == list(range(100, 110))
    # fully-pruned predicate: empty result, schema intact
    none = scan_manifest(sink, path, where=[("id", ">", 10**9)])
    assert none.count() == 0 and none.columns == ["id", "grp"]


def test_delete_where_rewrites_only_candidate_files(sink, tmp_path):
    """Row-level delete: only files whose stats admit a match are
    rewritten (untouched parts keep their manifest entries verbatim),
    the delete is one versioned commit, and time travel still shows
    the pre-delete rows."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        delete_where,
        read_manifest,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 400).selectExpr(
        "id", "id % 7 AS grp"
    ).repartitionByRange(4, "id").write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)
    before = read_manifest(path)
    untouched_before = {
        e["file"] for e in before["files"]
        if not (e["stats"]["id"][0] <= 42 <= e["stats"]["id"][1])
    }
    assert len(untouched_before) == 3

    after = delete_where(sink, path, [("id", ">=", 40), ("id", "<", 45)])
    assert after["version"] == before["version"] + 1
    assert after["total_rows"] == 395
    kept = {e["file"] for e in after["files"]}
    assert untouched_before <= kept  # 3 parts untouched, byte-identical
    got = sorted(r["id"] for r in scan_manifest(sink, path).collect())
    assert got == [i for i in range(400) if not (40 <= i < 45)]
    # pre-delete version still reads complete via time travel
    assert scan_manifest(sink, path, version=before["version"]).count() == 400


def test_stream_merge_into_upserts_and_resumes(sink, tmp_path):
    """Streaming upsert (foreachBatch merge_into): a file-source stream
    of keyed changes maintains the table; a SECOND drain against the
    same checkpoint re-reads nothing, and new files continue the
    upsert from where the checkpoint left off."""
    from pyspark.sql.types import LongType, StructField, StructType
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
        scan_manifest,
        stream_merge_into,
    )

    path = str(tmp_path / "t")
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink.range(0, 10).selectExpr("id", "id * 10 AS val").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)

    schema = StructType(
        [StructField("id", LongType()), StructField("val", LongType())]
    )
    sink.createDataFrame([(3, -3), (20, 200)], schema).write.parquet(
        src_dir + "/b1"
    )
    stream = sink.readStream.schema(schema).parquet(src_dir + "/*")
    stream_merge_into(sink, path, stream, on=["id"], checkpoint=ckpt)
    got = {r["id"]: r["val"] for r in scan_manifest(sink, path).collect()}
    assert got[3] == -3 and got[20] == 200 and len(got) == 11

    # drained checkpoint: re-running against the same source moves nothing
    v = read_manifest(path)["version"]
    stream = sink.readStream.schema(schema).parquet(src_dir + "/*")
    stream_merge_into(sink, path, stream, on=["id"], checkpoint=ckpt)
    assert read_manifest(path)["version"] == v

    # a new file resumes the upsert incrementally
    sink.createDataFrame([(3, 33), (21, 210)], schema).write.parquet(
        src_dir + "/b2"
    )
    stream = sink.readStream.schema(schema).parquet(src_dir + "/*")
    stream_merge_into(sink, path, stream, on=["id"], checkpoint=ckpt)
    got = {r["id"]: r["val"] for r in scan_manifest(sink, path).collect()}
    assert got[3] == 33 and got[21] == 210 and len(got) == 12


def test_table_changes_batch_cdc(sink, tmp_path):
    """Batch CDC (table_changes): appends emit inserts, merges emit
    delete+insert pairs for updated rows, compaction cancels to ZERO
    changes (byte-identical rewrite), and out-of-range versions are
    refused."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        compact,
        merge_into,
        read_manifest,
        table_changes,
    )

    path = str(tmp_path / "t")
    sink.range(0, 10).selectExpr("id", "id * 10 AS val").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)  # v1
    sink.range(10, 15).selectExpr("id", "id * 10 AS val").write.format(
        "manifest_parquet"
    ).mode("append").save(path)  # v2

    ch = table_changes(sink, path, 0, 2).collect()
    assert all(r["_change_type"] == "insert" for r in ch)
    assert {r["id"] for r in ch} == set(range(15))
    assert {r["_commit_version"] for r in ch} == {1, 2}
    assert len(table_changes(sink, path, 2, 2).collect()) == 0

    # merge: update id=3, insert id=100  -> v3
    src = sink.createDataFrame([(3, -3), (100, 1000)], "id LONG, val LONG")
    merge_into(sink, path, src, on=["id"])
    ch = {
        (r["id"], r["_change_type"]): r["val"]
        for r in table_changes(sink, path, 2, 3).collect()
    }
    assert ch == {(3, "delete"): 30, (3, "insert"): -3, (100, "insert"): 1000}

    # compaction: rows byte-identical -> CDC cancels to nothing
    compact(sink, path, 1)
    v = read_manifest(path)["version"]
    assert table_changes(sink, path, v - 1, v).count() == 0

    with pytest.raises(ValueError, match="outside the committed range"):
        table_changes(sink, path, 0, v + 5)


def test_schema_evolution_roundtrip_and_time_travel(sink, tmp_path):
    """The verdict's evolution round-trip: write v1 (narrow) → append
    v2 with an extra column (auto-evolve) → scan reads BOTH cohorts,
    old files null-filling the added column; time travel at v1 still
    reads the narrow schema; a subset-column append null-fills too;
    incompatible type changes are refused; the explicit evolve_schema
    DDL adds a column with no data movement."""
    from pyspark.sql.types import LongType, StructField
    from setup_harvest_action_spark.sources.manifest_sink import (
        evolve_schema,
        merge_into,
        read_manifest,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 10).selectExpr("id", "id * 2 AS a").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)
    v1 = read_manifest(path)["version"]
    assert [f["name"] for f in read_manifest(path)["schema"]["fields"]] == [
        "id", "a",
    ]

    # append with an ADDED column: the table schema widens
    sink.range(10, 20).selectExpr(
        "id", "id * 2 AS a", "concat('x', id) AS b"
    ).write.format("manifest_parquet").mode("append").save(path)
    df = scan_manifest(sink, path)
    assert df.columns == ["id", "a", "b"]
    rows = {r["id"]: (r["a"], r["b"]) for r in df.collect()}
    assert rows[3] == (6, None)  # pre-evolution file null-fills b
    assert rows[15] == (30, "x15")

    # time travel to v1: the narrow schema as of that commit
    old = scan_manifest(sink, path, version=v1)
    assert old.columns == ["id", "a"]
    assert old.count() == 10

    # append a SUBSET of columns: missing column null-fills at read
    sink.range(20, 25).selectExpr("id", "id * 2 AS a").write.format(
        "manifest_parquet"
    ).mode("append").save(path)
    rows = {r["id"]: r["b"] for r in scan_manifest(sink, path).collect()}
    assert rows[22] is None and rows[15] == "x15"

    # incompatible type change refused
    with pytest.raises(Exception, match="incompatible schema change"):
        sink.range(0, 3).selectExpr(
            "id", "concat('s', id) AS a"
        ).write.format("manifest_parquet").mode("append").save(path)

    # explicit ADD COLUMNS DDL: metadata-only versioned commit
    before_files = {e["file"] for e in read_manifest(path)["files"]}
    v_before = read_manifest(path)["version"]
    evolve_schema(path, [StructField("c", LongType())])
    m = read_manifest(path)
    assert m["version"] == v_before + 1
    assert {e["file"] for e in m["files"]} == before_files  # no data moved
    df = scan_manifest(sink, path)
    assert df.columns == ["id", "a", "b", "c"]
    assert df.filter("c IS NOT NULL").count() == 0
    # no-op re-add doesn't burn a version
    evolve_schema(path, [StructField("c", LongType())])
    assert read_manifest(path)["version"] == m["version"]

    # merge over the evolved table works with the full column set
    src = sink.createDataFrame(
        [(0, -1, "m", 7)], "id LONG, a LONG, b STRING, c LONG"
    )
    merge_into(sink, path, src, on=["id"])
    got = {r["id"]: (r["a"], r["b"], r["c"])
           for r in scan_manifest(sink, path).collect()}
    assert got[0] == (-1, "m", 7)
    assert got[3] == (6, None, None)
    assert len(got) == 25


def test_schema_evolution_stream_reader_null_fills_old_files(
    sink, tmp_path
):
    """The changes-stream over an evolved table: files committed
    before the add-column evolution stream out with the new column
    null-filled (the reader aligns every part to the declared column
    set by NAME, not position)."""
    from setup_harvest_action_spark.streaming.events import run_to_completion

    path = str(tmp_path / "t")
    sink.range(0, 5).selectExpr("id", "id * 2 AS a").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)
    sink.range(5, 8).selectExpr(
        "id", "id * 2 AS a", "concat('x', id) AS b"
    ).write.format("manifest_parquet").mode("append").save(path)

    stream = (
        sink.readStream.format("manifest_parquet").option("path", path).load()
    )
    out = run_to_completion(stream, "append")
    assert out.columns == ["id", "a", "b"]
    rows = {r["id"]: r["b"] for r in out.collect()}
    assert len(rows) == 8
    assert rows[2] is None and rows[6] == "x6"


def test_merge_into_upsert_rewrites_only_candidate_files(sink, tmp_path):
    """MERGE INTO (update + insert): matched rows are replaced, new
    keys appended, and ONLY files whose footer key range overlaps the
    source's are rewritten — the day's-delta-into-a-big-table shape.
    One versioned commit; time travel still shows the pre-merge
    rows."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        merge_into,
        read_manifest,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 400).selectExpr(
        "id", "id * 10 AS val"
    ).repartitionByRange(4, "id").write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)
    before = read_manifest(path)
    # source keys live in [390, 409]: updates 390-399, inserts 400-409
    src = sink.range(390, 410).selectExpr("id", "id * -1 AS val")
    untouched_before = {
        e["file"] for e in before["files"] if e["stats"]["id"][1] < 390
    }
    assert len(untouched_before) == 3

    after = merge_into(sink, path, src, on=["id"])
    assert after["version"] == before["version"] + 1
    assert after["total_rows"] == 410
    assert untouched_before <= {e["file"] for e in after["files"]}
    got = {r["id"]: r["val"] for r in scan_manifest(sink, path).collect()}
    assert len(got) == 410
    assert all(got[i] == i * 10 for i in range(0, 390))
    assert all(got[i] == -i for i in range(390, 410))
    # pre-merge version intact via time travel
    old = scan_manifest(sink, path, version=before["version"])
    assert old.count() == 400
    assert old.selectExpr("max(val)").collect()[0][0] == 3990


def test_merge_into_matched_delete_and_ignore_unmatched(sink, tmp_path):
    """when_matched='delete' removes matched target rows;
    when_not_matched='ignore' drops unmatched source rows — together
    the anti-upsert (retract a changeset)."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        merge_into,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 100).selectExpr("id", "id AS val").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)
    # 90-99 matched (deleted); 100-109 unmatched (ignored)
    src = sink.range(90, 110).selectExpr("id", "id AS val")
    after = merge_into(
        sink, path, src, on=["id"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert after["total_rows"] == 90
    got = sorted(r["id"] for r in scan_manifest(sink, path).collect())
    assert got == list(range(90))


def test_merge_into_key_only_delete_is_o_touched_files(sink, tmp_path):
    """A pure delete (when_matched='delete', when_not_matched='ignore')
    accepts a KEY-ONLY source — the takedown path: no payload columns
    exist at delete time — and rewrites ONLY stats-admitted files;
    every file whose key range excludes the deleted ids survives
    byte-identical.  The same key-only source with anything to insert
    or update still raises (those paths need full rows)."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        merge_into,
        read_manifest,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 400).selectExpr(
        "id", "id * 10 AS val"
    ).repartitionByRange(4, "id").write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)
    before = read_manifest(path)
    untouched = {
        e["file"]: e for e in before["files"] if e["stats"]["id"][1] < 390
    }
    assert len(untouched) == 3

    after = merge_into(
        sink, path, sink.range(390, 410).select("id"), on=["id"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert after["total_rows"] == 390
    after_entries = {e["file"]: e for e in after["files"]}
    assert all(after_entries[f] == e for f, e in untouched.items())
    got = scan_manifest(sink, path)
    assert got.count() == 390
    # surviving rows keep their full payload — the delete's target
    # rewrite must not project columns away
    assert got.columns == ["id", "val"]
    assert got.selectExpr("max(val)").collect()[0][0] == 3890

    with pytest.raises(ValueError, match="exact column set"):
        merge_into(
            sink, path, sink.range(0, 5).select("id"), on=["id"],
            when_matched="delete", when_not_matched="insert",
        )
    with pytest.raises(ValueError, match="exact column set"):
        merge_into(sink, path, sink.range(0, 5).select("id"), on=["id"])


def test_merge_into_column_subset_update(sink, tmp_path):
    """update_cols (Delta's UPDATE SET col = s.col): matched rows take
    the named columns from the source and keep every other column's
    target value; unmatched source rows still insert full rows."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        merge_into,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 10).selectExpr(
        "id", "id * 10 AS a", "concat('k', id) AS b"
    ).write.format("manifest_parquet").mode("overwrite").save(path)
    src = sink.createDataFrame(
        [(3, -1, "ignored"), (99, 990, "new")], "id LONG, a LONG, b STRING"
    )
    merge_into(sink, path, src, on=["id"], update_cols=["a"])
    got = {r["id"]: (r["a"], r["b"])
           for r in scan_manifest(sink, path).collect()}
    assert got[3] == (-1, "k3")      # a updated, b preserved
    assert got[99] == (990, "new")   # insert takes the full source row
    assert got[5] == (50, "k5")
    assert len(got) == 11

    with pytest.raises(ValueError, match="update_cols requires"):
        merge_into(
            sink, path, src, on=["id"],
            when_matched="delete", update_cols=["a"],
        )
    with pytest.raises(ValueError, match="not updatable"):
        merge_into(sink, path, src, on=["id"], update_cols=["id"])


def test_merge_into_refuses_ambiguous_source_and_detects_conflict(
    sink, tmp_path
):
    """Delta-parity guards: multiple source rows per key raise (the
    surviving row would be shuffle-order nondeterministic), and a
    merge derived from version V refuses to commit over a table that
    moved past V (lost-update prevention via the CommitConflict
    CAS)."""
    import setup_harvest_action_spark.sources.manifest_sink as ms
    from setup_harvest_action_spark.sources.manifest_sink import (
        CommitConflict,
        merge_into,
        read_manifest,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 50).selectExpr("id", "id AS val").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)

    dup = sink.createDataFrame([(1, 10), (1, 20)], "id LONG, val LONG")
    with pytest.raises(ValueError, match="multiple rows per merge key"):
        merge_into(sink, path, dup, on=["id"])

    # schema mismatch refused (full-row update semantics)
    bad = sink.range(0, 5).selectExpr("id", "id AS other")
    with pytest.raises(ValueError, match="exact column set"):
        merge_into(sink, path, bad, on=["id"])

    # empty source: no-op, version does not bump
    v = read_manifest(path)["version"]
    merge_into(sink, path, dup.filter("false"), on=["id"])
    assert read_manifest(path)["version"] == v

    # concurrent commit between merge's read and its flip → conflict
    real = ms._write_versioned
    state = {"bumped": False}

    def interleave(p, manifest, expected_version=None):
        if not state["bumped"]:
            state["bumped"] = True
            m = read_manifest(p)
            real(p, {"files": m["files"], "total_rows": m["total_rows"]})
        return real(p, manifest, expected_version=expected_version)

    ms._write_versioned = interleave
    try:
        src = sink.range(0, 5).selectExpr("id", "id * -1 AS val")
        with pytest.raises(CommitConflict, match="re-derive and retry"):
            merge_into(sink, path, src, on=["id"])
    finally:
        ms._write_versioned = real
    assert scan_manifest(sink, path).count() == 50  # lost update prevented
    merge_into(sink, path, src, on=["id"])  # retry from fresh version works
    got = {r["id"]: r["val"] for r in scan_manifest(sink, path).collect()}
    assert all(got[i] == -i for i in range(5))


def test_zorder_clustering_makes_manifest_stats_prune_both_dims(
    sink, tmp_path
):
    """Z-order clustering written THROUGH the manifest sink: per-file
    stats then cover tight hyper-rectangles, so a selective predicate
    on EITHER clustered dimension prunes most files — the Delta
    `OPTIMIZE ZORDER BY` + data-skipping loop, end to end.  A
    single-column sort would give tight stats on that column only."""
    from setup_harvest_action_spark.io.layout import zorder_partitioned
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
        scan_manifest,
        select_files,
    )

    path = str(tmp_path / "t")
    # two independent uniform dims — worst case for single-key sorting
    df = sink.range(0, 4096).selectExpr(
        "id", "CAST(xxhash64(id) % 4096 AS BIGINT) AS x",
        "CAST(xxhash64(id, 7) % 4096 AS BIGINT) AS y",
    ).selectExpr("id", "abs(x) AS x", "abs(y) AS y")
    zorder_partitioned(df, ["x", "y"], n_files=16).write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)
    m = read_manifest(path)
    assert len(m["files"]) == 16

    for col in ("x", "y"):
        hit = select_files(m, [(col, "<", 256)])  # 1/16 of the range
        assert len(hit) <= len(m["files"]) // 2, (
            col, [e["stats"][col] for e in m["files"]])
    # and correctness is unchanged by the pruning
    got = sorted(
        r["id"] for r in scan_manifest(
            sink, path, where=[("x", "<", 256)]
        ).collect()
    )
    want = sorted(r["id"] for r in df.filter("x < 256").collect())
    assert got == want


def test_vacuum_never_drops_the_latest_snapshot_and_cleans_tmp(
    sink, tmp_path
):
    """keep_last=0 must be clamped (the latest version's snapshot is
    always retained), and crash-orphaned .json.tmp files are swept."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
        scan_manifest,
        vacuum_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 10).write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)
    tmp_orphan = os.path.join(path, "_manifest.json.tmp")
    with open(tmp_orphan, "w") as fh:
        fh.write("{}")
    removed = vacuum_manifest(path, keep_last=0)
    assert "_manifest.json.tmp" in removed
    assert not os.path.exists(tmp_orphan)
    v = read_manifest(path)["version"]
    assert read_manifest(path, version=v)["total_rows"] == 10
    assert scan_manifest(sink, path, version=v).count() == 10


def test_manifest_protocol_randomized_model_check(sink, tmp_path, monkeypatch):
    """Model-checking the whole table-format protocol under a seeded
    random interleaving of appends, mid-commit crashes (with and
    without replay), row-level deletes, merges, bloom-index backfills,
    compactions, and vacuums: after
    EVERY operation the committed table must equal the in-memory model
    exactly (row multiset via count + id-sum), and a randomly chosen
    retained version must still time-travel.  One sequence of ~35 ops
    exercises interleavings the single-scenario tests cannot."""
    import random

    import setup_harvest_action_spark.sources.manifest_sink as ms
    from setup_harvest_action_spark.sources.manifest_sink import (
        _ManifestStreamWriter,
        compact,
        delete_where,
        read_manifest,
        scan_manifest,
        vacuum_manifest,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    rng = random.Random(20260814)
    path = str(tmp_path / "t")
    os.makedirs(path)
    schema = StructType([StructField("id", LongType())])
    w = _ManifestStreamWriter(path, schema)
    model: list[int] = []  # committed ids (multiset as sorted list)
    next_id = 0
    next_batch = 0
    vacuumed_below = 0  # versions < this may be gone

    def check():
        if not model:
            return
        df = scan_manifest(sink, path)
        got = sorted(r["id"] for r in df.collect())
        assert got == sorted(model), (len(got), len(model))

    real_replace = os.replace
    for step in range(35):
        op = rng.choice(
            ["append", "append", "append", "crash", "delete", "compact",
             "vacuum", "travel", "merge", "merge_delete", "bloom"]
        )
        if op == "append":
            n = rng.randint(1, 20)
            rows = [(next_id + i,) for i in range(n)]
            next_id += n
            w.commit([w.write(iter(rows))], batchId=next_batch)
            next_batch += 1
            model.extend(r[0] for r in rows)
        elif op == "crash":
            n = rng.randint(1, 10)
            rows = [(next_id + i,) for i in range(n)]
            next_id += n
            msg = w.write(iter(rows))

            def boom(src, dst):
                if dst.endswith(ms.MANIFEST):
                    raise RuntimeError("crash")
                return real_replace(src, dst)

            monkeypatch.setattr(ms.os, "replace", boom)
            with pytest.raises(RuntimeError):
                w.commit([msg], batchId=next_batch)
            monkeypatch.undo()
            if rng.random() < 0.5:  # engine replays the batch
                w2 = _ManifestStreamWriter(path, schema)
                w2.commit([w2.write(iter(rows))], batchId=next_batch)
                next_batch += 1
                model.extend(r[0] for r in rows)
            # else: abandoned — rows never become visible
        elif op == "delete" and model:
            victim = rng.choice(model)
            delete_where(sink, path, [("id", "=", victim)])
            model = [x for x in model if x != victim]
        elif op == "merge" and model:
            # upsert: some existing ids re-written (identical rows, so
            # the multiset is unchanged) + some brand-new ids inserted
            ups = rng.sample(model, k=min(len(model), rng.randint(1, 5)))
            n_new = rng.randint(1, 5)
            news = list(range(next_id, next_id + n_new))
            next_id += n_new
            src = sink.createDataFrame([(i,) for i in ups + news], schema)
            ms.merge_into(sink, path, src, on=["id"])
            model.extend(news)
        elif op == "merge_delete" and model:
            victims = rng.sample(model, k=min(len(model), rng.randint(1, 3)))
            src = sink.createDataFrame([(v,) for v in victims], schema)
            ms.merge_into(
                sink, path, src, on=["id"],
                when_matched="delete", when_not_matched="ignore",
            )
            model = [x for x in model if x not in set(victims)]
        elif op == "bloom" and model:
            # index backfill is a metadata-only commit: the row
            # multiset is untouched, and every later rewrite keeps the
            # index live; point lookups must stay exact afterwards
            ms.add_bloom_filters(path, ["id"])
            probe = rng.choice(model)
            got = (
                scan_manifest(sink, path, where=[("id", "=", probe)])
                .count()
            )
            assert got == model.count(probe), (probe, got)
        elif op == "compact" and model:
            compact(sink, path, rng.randint(1, 3))
        elif op == "vacuum" and model:
            keep = rng.randint(1, 4)
            vacuum_manifest(path, keep_last=keep)
            vacuumed_below = max(
                vacuumed_below,
                read_manifest(path)["version"] - keep + 1,
            )
        elif op == "travel" and model:
            latest_v = read_manifest(path)["version"]
            v = rng.randint(max(1, vacuumed_below), latest_v)
            m = read_manifest(path, version=v)
            assert m["version"] == v
            assert scan_manifest(sink, path, version=v).count() == m[
                "total_rows"
            ]
        check()
    assert model, "seed produced an empty table; pick another seed"
    check()


def test_delete_where_detects_concurrent_commit_conflict(sink, tmp_path):
    """A delete derived from version V must refuse to commit over a
    table that moved past V — otherwise the interleaved writer's files
    silently vanish from the manifest (lost update)."""
    import json

    import setup_harvest_action_spark.sources.manifest_sink as ms
    from setup_harvest_action_spark.sources.manifest_sink import (
        CommitConflict,
        delete_where,
        read_manifest,
        scan_manifest,
    )

    path = str(tmp_path / "t")
    sink.range(0, 100).repartitionByRange(2, "id").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(path)

    # interleave: bump the table version between delete's read and its
    # commit by wrapping _write_versioned's first invocation
    real = ms._write_versioned
    state = {"bumped": False}

    def interleave(p, manifest, expected_version=None):
        if not state["bumped"]:
            state["bumped"] = True
            m = read_manifest(p)
            real(p, {"files": m["files"], "total_rows": m["total_rows"]})
        return real(p, manifest, expected_version=expected_version)

    ms._write_versioned, orig = interleave, ms._write_versioned
    try:
        with pytest.raises(CommitConflict, match="re-derive and retry"):
            delete_where(sink, path, [("id", "=", 5)])
    finally:
        ms._write_versioned = orig
    # lost-update prevented: the table still holds every row, and the
    # retry (now derived from the current version) succeeds
    assert scan_manifest(sink, path).count() == 100
    delete_where(sink, path, [("id", "=", 5)])
    assert scan_manifest(sink, path).count() == 99
    assert not os.path.exists(os.path.join(path, "_commit.lock"))


@pytest.mark.usefixtures("restore_spark_conf")
def test_table_health_reports_small_files_and_clustering_depth(
    sink, tmp_path, capsys
):
    """Metadata-only health report: a range-partitioned key shows
    depth ~1 (disjoint per-file ranges), the interleaved key shows
    depth ~n_files; small-file count reflects the size threshold; the
    CLI verb prints both."""
    from setup_harvest_action_spark.cli import main
    from setup_harvest_action_spark.sources.manifest_sink import (
        table_health,
    )

    p = str(tmp_path / "t")
    df = sink.range(0, 4000).selectExpr(
        "id AS clustered", "id % 8 AS interleaved"
    )
    df.repartitionByRange(8, "clustered").write.format(
        "manifest_parquet"
    ).mode("overwrite").save(p)

    h = table_health(p)
    assert h["n_files"] == 8
    assert h["small_files"] == 8  # all tiny vs the 8 MiB default
    assert h["clustering_depth"]["clustered"] <= 1.5
    assert h["clustering_depth"]["interleaved"] >= 7.0

    assert main(["manifest", p, "--health"]) == 0
    out = capsys.readouterr().out
    assert "8 files" in out and "clustering depth clustered" in out


@pytest.mark.usefixtures("restore_spark_conf")
def test_shallow_clone_is_zero_copy_and_diverges_independently(
    sink, tmp_path, capsys
):
    """Clone without moving a byte, then prove independence: appends
    and row-level deletes on the clone never disturb the source, a
    rewrite migrates cloned references to clone-local files, and
    vacuum on the clone leaves borrowed source files alone."""
    import os as _os

    from setup_harvest_action_spark.cli import main
    from setup_harvest_action_spark.sources.manifest_sink import (
        delete_where,
        read_manifest,
        shallow_clone,
        vacuum_manifest,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    sink.range(0, 100).selectExpr("id", "id * 2 AS v").repartition(
        4
    ).write.format("manifest_parquet").mode("overwrite").save(src)

    c = shallow_clone(src, dst)
    assert c["version"] == 1
    assert c["cloned_from"]["version"] == 1
    # zero copy: the clone has NO data directory yet
    assert not _os.path.isdir(_os.path.join(dst, "data"))
    assert scan_manifest(sink, dst).count() == 100
    with pytest.raises(ValueError, match="already a table"):
        shallow_clone(src, dst)

    # clone-side mutation: source untouched
    sink.range(100, 110).selectExpr("id", "id * 2 AS v").write.format(
        "manifest_parquet"
    ).mode("append").save(dst)
    delete_where(sink, dst, [("id", "=", 5)])
    assert scan_manifest(sink, dst).count() == 109
    assert scan_manifest(sink, src).count() == 100
    src_files = {e["file"] for e in read_manifest(src)["files"]}
    assert all(
        _os.path.exists(_os.path.join(src, f)) for f in src_files
    )

    # the delete rewrote the candidate file clone-locally: at most the
    # untouched source refs remain absolute
    m = read_manifest(dst)
    local = [e for e in m["files"] if not _os.path.isabs(e["file"])]
    assert local, "rewrite must create clone-local files"

    # vacuum on the clone reclaims only its own data/ dir
    removed = vacuum_manifest(dst, keep_last=1)
    assert all(not _os.path.isabs(r) for r in removed)
    assert scan_manifest(sink, src).count() == 100
    assert scan_manifest(sink, dst).count() == 109

    # CLI verb
    dst2 = str(tmp_path / "dst2")
    assert main(["manifest", src, "--clone-to", dst2]) == 0
    assert "zero bytes copied" in capsys.readouterr().out
    assert scan_manifest(sink, dst2).count() == 100


def test_auto_compact_zorder_recluster_improves_skipping(sink, tmp_path):
    """VERDICT r10 #8: auto_compact(zorder_by="auto") closes the
    maintenance loop — table_health names the worst-clustered column,
    the compaction rewrite Morton-clusters on it, and a point
    predicate afterwards admits fewer files via footer-stats
    skipping."""
    from setup_harvest_action_spark.sources.manifest_sink import (
        auto_compact,
        select_files,
        table_health,
    )

    path = str(tmp_path / "t")
    # round-robin layout: every one of the 8 files spans the FULL id
    # range, so min/max skipping on id is blind (depth ≈ 8)
    df = sink.range(0, 4000).selectExpr("id", "id * 3 AS val")
    df.repartition(8).write.format("manifest_parquet").mode(
        "overwrite"
    ).save(path)
    before = table_health(path)
    assert before["n_files"] == 8
    assert before["clustering_depth"]["id"] > 4
    probe = [("id", ">=", 100), ("id", "<=", 110)]
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
    )

    admitted_before = len(select_files(read_manifest(path), probe))
    assert admitted_before == 8  # nothing skippable

    # every file is "small": the whole table re-clusters on the worst
    # column (id — depth 8 beats nothing else)
    after = auto_compact(
        sink, path, small_bytes=1 << 40, n_parts=8, zorder_by="auto"
    )
    assert after["version"] == before["version"] + 1
    assert after["total_rows"] == 4000
    health = table_health(path)
    assert health["clustering_depth"]["id"] < 2
    admitted_after = len(select_files(after, probe))
    assert admitted_after <= 2
    # content unchanged
    assert (
        scan_manifest(sink, path).selectExpr("sum(val)").collect()[0][0]
        == sum(3 * i for i in range(4000))
    )
    # explicit column list works too, and a no-op threshold still
    # short-circuits before any clustering work
    again = auto_compact(
        sink, path, small_bytes=1, n_parts=8, zorder_by=["val"]
    )
    assert again["version"] == after["version"]
