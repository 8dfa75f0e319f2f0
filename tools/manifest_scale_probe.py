"""File-count stress probe for the manifest table format (VERDICT r10
#9): the model checker randomizes OPERATIONS but its tables stay tiny —
this probe stresses the METADATA axis instead.  It commits a table with
thousands of parts, then times every metadata-only operation a reader
or maintenance job performs before any data byte is read:

  * read_manifest         — parse the JSON snapshot
  * select_files          — stats-based skipping sweep over all entries
  * table_health          — posture + per-column clustering depth
  * scan planning         — build the pruned DataFrame (no action)
  * pruned count          — the actual point query end-to-end

Usage:  python tools/manifest_scale_probe.py [n_parts] [parts_per_commit]
Defaults: 5000 parts, 250 per commit (20 append commits).

The committed table is range-laid-out on id, so the point probe
([lo, lo+10]) should admit ~1 file out of N — the number printed as
`admitted`.  Results land in SCALE.md §16.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))


def main() -> int:
    n_parts = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    per_commit = int(sys.argv[2]) if len(sys.argv) > 2 else 250
    rows_per_part = 20

    from setup_harvest_action_spark.session import get_spark
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
        register_manifest_sink,
        scan_manifest,
        select_files,
        table_health,
    )

    spark = get_spark("manifest-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    register_manifest_sink(spark)
    path = tempfile.mkdtemp(prefix="manifest_scale_")

    t0 = time.time()
    n_commits = (n_parts + per_commit - 1) // per_commit
    for c in range(n_commits):
        base = c * per_commit * rows_per_part
        df = (
            spark.range(base, base + per_commit * rows_per_part)
            .selectExpr("id", "id * 3 AS val")
            .repartitionByRange(per_commit, "id")
        )
        mode = "overwrite" if c == 0 else "append"
        df.write.format("manifest_parquet").mode(mode).save(path)
        if (c + 1) % 5 == 0:
            print(
                f"# committed {(c + 1) * per_commit} parts "
                f"({time.time() - t0:.1f}s)",
                file=sys.stderr,
            )
    build_sec = time.time() - t0

    out: dict = {"n_parts_requested": n_parts}

    t = time.time()
    m = read_manifest(path)
    out["read_manifest_sec"] = round(time.time() - t, 4)
    out["n_files"] = len(m["files"])
    out["manifest_bytes"] = len(json.dumps(m))

    lo = (n_parts // 2) * rows_per_part
    probe = [("id", ">=", lo), ("id", "<=", lo + 10)]
    t = time.time()
    admitted = select_files(m, probe)
    out["select_files_sec"] = round(time.time() - t, 4)
    out["admitted"] = len(admitted)

    t = time.time()
    health = table_health(path)
    out["table_health_sec"] = round(time.time() - t, 4)
    out["clustering_depth_id"] = health["clustering_depth"].get("id")

    t = time.time()
    df = scan_manifest(spark, path, where=probe)
    out["scan_plan_sec"] = round(time.time() - t, 4)

    t = time.time()
    out["pruned_count_rows"] = df.count()
    out["pruned_count_sec"] = round(time.time() - t, 4)

    # the unpruned control: planning cost when every file is admitted
    t = time.time()
    full = scan_manifest(spark, path)
    out["full_scan_plan_sec"] = round(time.time() - t, 4)
    t = time.time()
    out["full_count_rows"] = full.count()
    out["full_count_sec"] = round(time.time() - t, 4)

    out["build_sec"] = round(build_sec, 1)
    print(json.dumps(out))
    shutil.rmtree(path, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
