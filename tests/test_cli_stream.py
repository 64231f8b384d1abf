"""CLI `stream-dedup`: the file-arrival firehose entry point. Pins that
(a) the command routes to the SHARDED stateful operator by default and its
committed output equals the batch answer, and (b) re-running against the
same directory with the same checkpoint processes NOTHING new
(exactly-once across process restarts of the availableNow loop). The
printed digest count is the deduped answer, independent of --max-files."""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deduplicator_spark.cli import main


def _captures(spark):
    from deduplicator_spark.entry_queries import _probe_index, load

    probe, _ = _probe_index(load(spark, "/root/testdata/sf0.001", "events"))
    return probe.select("record_id", "digest", "ts")


def _printed(out, label):
    return int(re.search(rf"^\s*{label}\s+(\d+)", out, re.M).group(1))


def test_stream_dedup_cli_sharded_default_matches_batch(spark, tmp_path, capsys):
    src = str(tmp_path / "arrivals")
    out = str(tmp_path / "sink")
    caps = _captures(spark)
    caps.write.mode("overwrite").parquet(src)

    rc = main(["--cores", "8", "stream-dedup", "--input", src,
               "--output", out, "--max-files", "2"])
    assert rc == 0
    printed = capsys.readouterr().out
    assert _printed(printed, "digests") == caps.select("digest").distinct().count()

    from deduplicator_spark.streaming.sink import read_committed

    assert _printed(printed, "running-total rows") == \
        read_committed(spark, out).count()

    got = (
        read_committed(spark, out)
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("digest").orderBy(F.col("n_seen").desc())))
        .filter("rn = 1")
    )
    want = caps.groupBy("digest").agg(F.count("*").alias("n"))
    joined = got.join(want, "digest", "full")
    assert joined.filter("n_seen IS NULL OR n IS NULL").count() == 0
    assert joined.filter("n_seen <> n").count() == 0

    # second invocation, same checkpoint, no new files: exactly-once means
    # the committed row set is unchanged
    n_before = read_committed(spark, out).count()
    rc = main(["--cores", "8", "stream-dedup", "--input", src,
               "--output", out, "--max-files", "2"])
    assert rc == 0
    assert read_committed(spark, out).count() == n_before
