"""Checkpoint resume across a PROCESS boundary (round-3 verdict item #8).

The drained gates prove batch-equivalence for clean single-process runs.
This test kills the sessionize drain between micro-batches for real: phase A
runs a Structured Streaming query over the first half of the events in one
JVM and exits; phase B is a NEW process that appends the second half and
starts a NEW query on the SAME checkpoint. The applyInPandasWithState state
(per-user last_ts_us/session_idx) must be recovered from the checkpoint
files — a user whose session spans the two halves must continue it — and the
union of both phases' output must equal the batch sessionize operator
row-for-row (exactly-once under restart: no lost and no duplicated events).
The geocode stream gets the same treatment over page files: the union of
both phases must equal the batch geocode_pages plan row for row, with each
primary_key written exactly once.
"""

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from compare_util import assert_frames_match

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PHASE = r"""
import os, sys
sys.path[:0] = [%(repo)r, %(repo)r + "/tests"]
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from geocode_spark.session import get_spark
from geocode_spark.streaming.sessions import read_events_stream, stream_sessionize

phase, root, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_spark("restart-" + phase, parallelism=4, shuffle_partitions=4,
                  small_input=True)
spark.sparkContext.setLogLevel("ERROR")
src, out, ckpt = f"{root}/src", f"{root}/out", f"{root}/ckpt"

events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
    "event_id", F.col("ts").cast("timestamp").alias("ts"),
    "user_id", "event_type", "value", "props",
)

# ADVERSARIAL cut: split right after the FIRST event of the longest
# session, so that session is guaranteed to straddle the restart — the
# recovered state must continue it, not restart it. The cut is a pure
# function of the input, so both phases derive the identical boundary.
from geocode_spark.operators.temporal import sessionize
sess = sessionize(events)
top = (
    sess.groupBy("session_id")
    .agg(F.count("*").alias("n"), F.min("ts_us").alias("t0"),
         F.min("event_id").alias("e0"))
    .filter(F.col("n") >= 2)
    .orderBy(F.desc("n"), "t0", "e0")
    .first()
)
assert top is not None, "corpus has no multi-event session"
first_ev = (
    sess.filter(F.col("session_id") == top["session_id"])
    .orderBy("ts_us", "event_id").first()
)
cut_ts, cut_eid = int(first_ev["ts_us"]), int(first_ev["event_id"])
print(f"CUT {top['session_id']} {cut_ts} {cut_eid}", flush=True)

ts_us = F.unix_micros(F.col("ts"))
in_first = (ts_us < cut_ts) | ((ts_us == cut_ts) & (F.col("event_id") <= cut_eid))
part = events.filter(in_first if phase == "A" else ~in_first)
part.coalesce(1).write.mode("append").parquet(src)

q = (
    stream_sessionize(read_events_stream(spark, src))
    .writeStream.format("parquet")
    .option("path", out)
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
committed = [f for f in os.listdir(f"{ckpt}/offsets") if not f.startswith(".")]
print(f"PHASE {phase} COMMITS {len(committed)}", flush=True)
"""


def _run_phase(phase, root, sf_dir):
    env = dict(os.environ)
    env["PYTHONPATH"] = f"{REPO}:{REPO}/tests"
    proc = subprocess.run(
        [sys.executable, "-c", _PHASE % {"repo": REPO}, phase, root, sf_dir],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, f"phase {phase} failed:\n{proc.stderr[-3000:]}"
    return proc.stdout


def test_sessionize_checkpoint_resume_across_processes(spark, sf_dir, tmp_path):
    from geocode_spark.operators.temporal import sessionize

    root = str(tmp_path / "restart")
    out_a = _run_phase("A", root, sf_dir)
    assert "PHASE A COMMITS 1" in out_a
    out_b = _run_phase("B", root, sf_dir)
    # phase B's offsets dir carries BOTH phases' committed batches — the new
    # query resumed the old checkpoint instead of reprocessing from scratch
    assert "PHASE B COMMITS 2" in out_b

    got = spark.read.parquet(f"{root}/out").toPandas()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = sessionize(events).toPandas()
    assert_frames_match(got, want, label="restart_sessionize")

    # cross-phase continuity is REAL by construction: the phases cut right
    # after the first event of the longest session (CUT line), so that
    # session must have events in BOTH phases' source files — pin it
    import glob

    import pandas as pd

    cut_session = out_a.split("CUT ")[1].split()[0]
    halves = sorted(glob.glob(f"{root}/src/part-*.parquet"), key=os.path.getmtime)
    assert len(halves) == 2
    ids_a = set(pd.read_parquet(halves[0])["event_id"])
    ids_b = set(pd.read_parquet(halves[1])["event_id"])
    sess_events = got[got["session_id"] == cut_session]["event_id"]
    assert len(sess_events) >= 2
    assert ids_a & set(sess_events), "cut session absent from phase A"
    assert ids_b & set(sess_events), "cut session absent from phase B"


_DEDUP_PHASE = r"""
import os, sys
sys.path[:0] = [__REPO__, __REPO__ + "/tests"]
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from geocode_spark.session import get_spark
from geocode_spark.textops.dedup import near_dup_corpus

phase, root, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_spark("restart-dedup-" + phase, parallelism=4,
                  shuffle_partitions=4, small_input=True)
spark.sparkContext.setLogLevel("ERROR")
src, out, ckpt = f"{root}/src", f"{root}/out", f"{root}/ckpt"

# identical deterministic split in both phases (the drained gate's
# interleave): rank within (text-hash, doc_id), odd ranks to phase A,
# even to phase B -> every duplicate group with >= 2 members spans the
# PROCESS boundary, so phase B can only dedup them from recovered state
corpus = near_dup_corpus(
    spark.read.parquet(f"{sf_dir}/documents.parquet")
).select(
    "doc_id",
    F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    "text",
)
w = Window.orderBy(F.md5("text"), F.col("doc_id"))
ranked = corpus.withColumn("_rn", F.row_number().over(w))
half = ranked.filter(
    (F.col("_rn") % 2 == 1) if phase == "A" else (F.col("_rn") % 2 == 0)
).drop("_rn")
half.coalesce(1).write.mode("append").parquet(src)

stream = (
    spark.readStream.schema("doc_id bigint, ts timestamp, text string")
    .option("maxFilesPerTrigger", 1)
    .parquet(src)
)
survivors = (
    stream.withColumn("text_hash", F.md5(F.col("text")))
    .withWatermark("ts", "1 hour")
    .dropDuplicatesWithinWatermark(["text_hash"])
)
q = (
    survivors.writeStream.format("parquet")
    .option("path", out)
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
committed = [f for f in os.listdir(f"{ckpt}/offsets") if not f.startswith(".")]
print(f"PHASE {phase} COMMITS {len(committed)}", flush=True)
"""


def test_stream_dedup_state_survives_process_restart(spark, sf_dir, tmp_path):
    """Exactly-once dedup across a process boundary: the seen-hash state of
    dropDuplicatesWithinWatermark must be recovered from the checkpoint by a
    NEW process — every duplicate group spans the two phases by
    construction, so lost state would re-emit phase-A hashes in phase B."""
    import subprocess

    root = str(tmp_path / "restart_dedup")
    env = dict(os.environ)
    env["PYTHONPATH"] = f"{REPO}:{REPO}/tests"

    def run(phase):
        proc = subprocess.run(
            [sys.executable, "-c",
             _DEDUP_PHASE.replace("__REPO__", repr(REPO)),
             phase, root, sf_dir],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert proc.returncode == 0, \
            f"phase {phase} failed:\n{proc.stderr[-3000:]}"
        return proc.stdout

    # availableNow + dropDuplicatesWithinWatermark adds a trailing
    # watermark-advance commit, so pin RESUME (B's offsets strictly extend
    # A's) rather than absolute counts
    out_a = run("A")
    commits_a = int(out_a.split("PHASE A COMMITS ")[1].split()[0])
    assert commits_a >= 1
    out_b = run("B")
    commits_b = int(out_b.split("PHASE B COMMITS ")[1].split()[0])
    assert commits_b > commits_a, (commits_a, commits_b)

    from geocode_spark.textops.dedup import near_dup_corpus

    got = spark.read.parquet(f"{root}/out").toPandas()
    want = (
        near_dup_corpus(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        .select(F.md5("text").alias("text_hash")).distinct().toPandas()
    )
    # exactly-once: every distinct hash emitted EXACTLY once across both
    # phases — a lost state store would duplicate every cross-phase group
    assert len(got) == len(want), (len(got), len(want))
    assert set(got["text_hash"]) == set(want["text_hash"])
    assert got["text_hash"].nunique() == len(got)


N_FILES = 4  # page files; phase A writes the first half, phase B the rest

_GEOCODE_PHASE = r"""
import os, sys
sys.path[:0] = [%(repo)r, %(repo)r + "/tests"]
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from geocode_spark.plans.pipeline import load_locators
from geocode_spark.session import get_spark
from geocode_spark.streaming.stream import stream_geocode

phase, root, fix, n_files = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = get_spark("restart-geocode-" + phase, parallelism=4, shuffle_partitions=4,
                  small_input=True)
spark.sparkContext.setLogLevel("ERROR")
src, out, ckpt = f"{root}/src", f"{root}/out", f"{root}/ckpt"

# file k holds the pages of url rank r with r %% n_files == k: a pure
# function of the input, so both phases derive the identical split
pages = spark.read.parquet(f"{fix}/pages.parquet").withColumn(
    "_f", (F.row_number().over(Window.orderBy("url")) - 1) %% n_files
)
mine = range(n_files // 2) if phase == "A" else range(n_files // 2, n_files)
for k in mine:
    pages.filter(F.col("_f") == k).drop("_f").coalesce(1).write.mode(
        "append"
    ).parquet(src)

q = stream_geocode(spark, src, load_locators(spark, fix), out, ckpt,
                   available_now=True)
q.awaitTermination()
committed = [f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")]
print(f"PHASE {phase} COMMITS {len(committed)}", flush=True)
"""


def _run_geocode_phase(phase, root, fixtures_dir):
    env = dict(os.environ)
    env["PYTHONPATH"] = f"{REPO}:{REPO}/tests"
    proc = subprocess.run(
        [sys.executable, "-c", _GEOCODE_PHASE % {"repo": REPO}, phase, root,
         fixtures_dir, str(N_FILES)],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, f"phase {phase} failed:\n{proc.stderr[-3000:]}"
    return int(proc.stdout.split(f"PHASE {phase} COMMITS ")[1].split()[0])


def test_stream_geocode_resume_across_processes(spark, fixtures_dir, tmp_path):
    import glob

    from geocode_spark.plans.pipeline import geocode_pages, load_locators
    from geocode_spark.streaming.stream import read_stream_results

    root = str(tmp_path / "restart")
    commits_a = _run_geocode_phase("A", root, fixtures_dir)
    assert commits_a >= 1
    assert len(glob.glob(f"{root}/src/part-*.parquet")) == N_FILES // 2
    commits_b = _run_geocode_phase("B", root, fixtures_dir)
    # phase B's commit log carries BOTH phases' batches — the new query
    # resumed the old checkpoint instead of reprocessing from scratch
    assert commits_b > commits_a
    assert len(glob.glob(f"{root}/src/part-*.parquet")) == N_FILES

    got = read_stream_results(spark, f"{root}/out").toPandas()
    pages = spark.read.parquet(f"{fixtures_dir}/pages.parquet")
    want = geocode_pages(pages, load_locators(spark, fixtures_dir)).toPandas()
    assert got["primary_key"].is_unique
    assert set(got["primary_key"]) == set(want["primary_key"])
    assert_frames_match(got, want, label="restart_geocode")
