"""Every public entry point that runs package code in Python workers ships
the package itself (packaging.ensure_on_executors): a driver whose cwd is
outside the repository, with the package importable only on the driver's
sys.path, must still write, read and audit wire shards."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from ch_pdf_parse_spark.session import get_spark
    from ch_pdf_parse_spark.sources import wireformat as wf

    spark = get_spark("shipping", cores=1, shuffle_partitions=2)
    docs = spark.createDataFrame(
        [("d0", [("text", "x", "", 0)]), ("d1", None)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    assert wf.write_wire_shards(docs, "wire", n_shards=2) >= 1
    assert wf.read_wire(spark, "wire").count() == 2
    stats = wf.wire_scan_stats(spark, "wire").collect()
    assert sum(r["n_records"] for r in stats) == 2
    spark.stop()
    print("SHIPPED")
""")


def test_wire_entry_points_ship_package(tmp_path):
    # workers must not find the package through the environment either
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0 and "SHIPPED" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-4000:])
