"""tools/time_queries.py, the per-query timer: one run on the smoke
tables prints a parseable JSON line with its job count."""

from __future__ import annotations

import json


def test_time_queries_prints_one_json_line(spark, sf_dir, capsys):
    from tools import time_queries

    # time_queries builds its session through get_spark, which returns
    # this process's session and re-applies the factory's SQL confs;
    # restore the one that depends on the core count.
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        time_queries.main(["--sf", sf_dir, "--runs", "1", "a1_count_by_group"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(out) == ["a1_count_by_group"]
    timing = out["a1_count_by_group"]
    assert len(timing["runs"]) == 1 and timing["min"] == timing["runs"][0] > 0
    assert timing["jobs"] == 1  # the narrowed scan leaves no exchange
