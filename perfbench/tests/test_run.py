import shutil
import subprocess
import sys

from .test_benchmark_json import ROOT


def test_fails_without_the_engine(tmp_path):
    # a directory holding only BENCHMARK.json and the benchmark's files
    shutil.copy(f"{ROOT}/BENCHMARK.json", tmp_path)
    shutil.copytree(f"{ROOT}/perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "extract_parquet", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
