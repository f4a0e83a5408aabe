"""The runnable surfaces: the spark-submit pipeline job and the driver
contract in ``__spark_entry__``, each run end to end on small inputs."""

import glob
import json
import os


def test_pipeline_job_writes_manifests(spark, tmp_path, capsys):
    from sbse.jobs.run_pipeline import main

    wh = str(tmp_path / "wh")
    # the job reuses the running session; keep its shuffle width unchanged
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    main(["--synth-rows", "2000", "--warehouse", wh,
          "--checkpoint-parts", "2", "--shuffle-partitions", parts])
    manifests = sorted(glob.glob(os.path.join(wh, "_manifests", "run-0",
                                              "part-*.json")))
    assert [os.path.basename(m) for m in manifests] == ["part-0.json",
                                                         "part-1.json"]
    docs = []
    for m in manifests:
        with open(m) as f:
            docs.append(json.load(f))
    assert sum(d["input_rows"] for d in docs) == 2000
    for d in docs:
        assert "rollup_1m" in d["outputs"] and "decoded" not in d["outputs"]
    assert "'run_id': 'run-0'" in capsys.readouterr().out


def test_driver_entry_returns_rows(spark):
    import __spark_entry__

    assert __spark_entry__.entry(spark).count() > 0
