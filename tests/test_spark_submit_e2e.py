"""End-to-end launch-contract test: the north-star's deployment clause is
``spark-submit --py-files mwep_spark.zip jobs/run_pipeline.py`` on a
multi-executor cluster. This drives exactly that command as a subprocess
(local[4] master standing in for the cluster; same code path — the zip is
the ONLY way the subprocess can import the package, verified by running
from a scratch cwd with no repo on sys.path), then checks the pipeline's
contract artifacts: bucketed full/pilot triple parquet with rows, and the
checkpoint store's lineage + counters tables.
"""

from __future__ import annotations

import os
import subprocess
import zipfile

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "multilingual_wiki_event_pipeline_spark"


def _build_pyfiles_zip(dest: str) -> str:
    path = os.path.join(dest, "mwep_spark.zip")
    with zipfile.ZipFile(path, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return path


def test_spark_submit_py_files_pipeline(corpus_dir, tmp_path):
    zip_path = _build_pyfiles_zip(str(tmp_path))
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    import pyspark

    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    cmd = [
        spark_submit,
        "--master", "local[4]",
        "--driver-memory", "2g",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", corpus_dir,
        "--checkpoint", str(ckpt),
        "--output", str(out),
        "--skew-report",
    ]
    # scratch cwd + stripped PYTHONPATH: the zip is the only import route
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, timeout=800,
        capture_output=True, text=True,
    )
    assert proc.returncode == 0, (
        f"spark-submit failed\nSTDOUT:\n{proc.stdout[-3000:]}\n"
        f"STDERR:\n{proc.stderr[-3000:]}"
    )

    con = duckdb.connect()
    n_full = con.sql(
        f"SELECT count(*) FROM '{out}/full/**/*.parquet'"
    ).fetchone()[0]
    n_pilot = con.sql(
        f"SELECT count(*) FROM '{out}/pilot/**/*.parquet'"
    ).fetchone()[0]
    assert n_full > 0 and n_pilot > 0
    # the bucket count follows the session's shuffle partitions (8)
    buckets = [d for d in os.listdir(out / "full") if d.startswith("bucket=")]
    assert 1 < len(buckets) <= 8
    # the driver-side builder over the same corpus agrees on the triple set
    cols = con.sql(
        f"SELECT * FROM '{out}/full/**/*.parquet' LIMIT 1"
    ).columns
    assert {"subj", "pred", "obj"} <= set(cols)
    # lineage + counters made it to the checkpoint store
    lineage = con.sql(
        f"SELECT count(*) FROM '{ckpt}/_lineage/**/*.parquet'"
    ).fetchone()[0]
    counters = con.sql(
        f"SELECT metric, value FROM '{ckpt}/_counters/**/*.parquet'"
    ).fetchall()
    assert lineage > 0
    sink_metrics = dict(counters)
    assert sink_metrics.get("full_triples", 0) == n_full
    # --skew-report wrote both telemetry tables: conversation-size
    # quantiles (one-sided within 2x) and CMS hot incident types (one-
    # sided overestimates)
    q = con.sql(
        f"SELECT est FROM '{out}/skew/conv_size_quantiles/*.parquet'"
    ).fetchall()
    assert len(q) == 3
    assert all(est >= 1 for (est,) in q)
    hot = con.sql(
        f"SELECT est_count, exact_count FROM "
        f"'{out}/skew/hot_incident_types/*.parquet'"
    ).fetchall()
    assert hot and all(e >= x for e, x in hot)
