"""north_rule ship-path test: the REAL `spark-submit --py-files` flow —
package the library into a zip, submit the driver script from a scratch
cwd (so only the zip can satisfy the imports), and check the pipeline
output. This is the exact mechanism a multi-executor cluster run uses;
local[2] stands in for the cluster master URL."""

from __future__ import annotations

import importlib.util
import json
import os
import random
import shutil
import subprocess
import zipfile

import pytest

from propertygraph_spark.main import main
from propertygraph_spark.pipeline.fixtures import synth_java_class

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "package", os.path.join(ROOT, "scripts", "package.py"))
package = importlib.util.module_from_spec(spec)
spec.loader.exec_module(package)


def test_spark_submit_with_py_files(tmp_path):
    spark_submit = shutil.which("spark-submit")
    assert spark_submit, "spark-submit not on PATH"
    zip_path = package.build(str(tmp_path / "propertygraph_spark.zip"))
    names = zipfile.ZipFile(zip_path).namelist()
    assert "propertygraph_spark/main.py" in names
    assert not any("__pycache__" in n or "tests/" in n for n in names)

    # driver script OUTSIDE the repo: a copy of main.py in the scratch dir
    # (its sys.path bootstrap points at the scratch dir, which holds no
    # package — every import must come from the --py-files zip)
    driver = str(tmp_path / "driver.py")
    shutil.copy(os.path.join(ROOT, "propertygraph_spark", "main.py"), driver)
    # a small seeded directory of .java files as the --input-dir
    src_dir = tmp_path / "java_src"
    src_dir.mkdir()
    rng = random.Random(7)
    for i in range(4):
        (src_dir / f"Synth{i}.java").write_text(
            synth_java_class(rng, i, n_methods=2))
    out_dir = str(tmp_path / "kg_out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path,
         driver, "--input-dir", str(src_dir),
         "--out", out_dir, "--graphs", "cfg"],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
        env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(os.path.join(out_dir, "_metrics", "pipeline.json")) as f:
        metrics = json.load(f)
    assert metrics["total"] > 0
    assert all(r["pred"].startswith("cfg_")
               for r in metrics["triples_by_bucket_pred"])


def test_input_dir_must_be_a_directory(tmp_path):
    """A missing --input-dir is refused before any Spark session starts,
    not run as an empty corpus that exits 0 with triples=0."""
    with pytest.raises(SystemExit) as exc:
        main(["--input-dir", str(tmp_path / "missing"),
              "--out", str(tmp_path / "kg_out")])
    assert exc.value.code != 0
    assert not (tmp_path / "kg_out").exists()
