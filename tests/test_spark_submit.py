"""End-to-end `spark-submit --py-files` test — the north rule's deploy
surface (reference analog: running the fluent-bit binary with -c).

Builds `fluent_bit_spark.zip` exactly as a cluster deploy would, then
launches the real spark-submit shell script in a scratch cwd (so the
package can ONLY come from the zip), and checks the printed JSON run
summary.  A second submit against the same output directory must
resume from the manifest and reprocess nothing (storage-backlog
semantics, SURVEY §2.1).
"""

from __future__ import annotations

import json
import os
import subprocess
import zipfile

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _build_zip(path: str) -> str:
    zpath = os.path.join(path, "fluent_bit_spark.zip")
    pkg = os.path.join(REPO, "fluent_bit_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(tmp, zpath, runner, *extra):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[2]",
            "--conf",
            "spark.sql.shuffle.partitions=4",
            "--py-files",
            zpath,
            runner,
            "--sf-dir",
            SF_DIR,
            "--output",
            os.path.join(tmp, "out"),
            "--parallelism",
            "2",
            *extra,
        ],
        cwd=tmp,  # repo not on path: the zip must be self-contained
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # the summary is the last JSON line on stdout
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, f"no JSON summary in stdout: {proc.stdout[-2000:]}"
    return json.loads(lines[-1])


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata fixture")
def test_spark_submit_py_files_end_to_end(tmp_path):
    tmp = str(tmp_path)
    zpath = _build_zip(tmp)
    runner = os.path.join(tmp, "runner.py")
    with open(runner, "w") as f:
        f.write(
            "import sys\n"
            "from fluent_bit_spark.cli import main\n"
            "sys.exit(main())\n"
        )

    first = _submit(tmp, zpath, runner)
    assert first["rows_done"] > 0
    assert first["sink_totals"], "fan-out sinks wrote nothing"
    assert all(s == "done" for s in first["groups"].values())
    days = sorted(first["groups"])
    assert len(days) >= 1

    # second submit: manifest resume — every group skipped, nothing redone
    second = _submit(tmp, zpath, runner)
    assert all(s == "skipped" for s in second["groups"].values())
    assert sorted(second["groups"]) == days
    assert second["rows_done"] == first["rows_done"]
    assert second["sink_totals"] == first["sink_totals"]
