#!/usr/bin/env python
"""Kill-and-resume probe for the composed crawl_to_corpus path at sf1
(VERDICT r12 #3): run the raw-bytes -> training-shards composition to
completion in workdir A (the control), start it again in workdir B and
SIGKILL the process after the intake tier commits but before the pack
tier completes, then re-run B to completion. Asserts:

  1. while B is killed, the committed front door
     (pipeline.corpus_job.read_corpus_outputs) REFUSES — _MANIFEST.json
     is the commit marker, written last, so partial corpus subtrees
     are invisible;
  2. the resumed B's manifest and every boundary count equal A's;
  3. the packed sequences are content-identical between A and B
     (count + per-row token sum digest).

Run:  python scripts/gen_sf1.py   # if /tmp/jonesy_sf1 is absent
      python scripts/crawl_kill_probe.py [--sf-dir /tmp/jonesy_sf1]
            [--workdir /tmp/crawl_kill_probe]

The kill is a real SIGKILL of a child process running the job (no
cooperative exception), so the on-disk state is exactly what a dying
executor/driver leaves. The child writes the shared WARC fixture
first; both runs read the SAME archive paths (doc_id hashes them).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

CHILD = r"""
import sys
sys.path.insert(0, sys.argv[4])
from pyspark.sql import functions as F
from jonesy_spark.session import get_spark
from jonesy_spark.catalog import Catalog
from jonesy_spark.pipeline import warc as W
from jonesy_spark.pipeline.corpus_job import prepare_corpus_from_crawl

sf_dir, src, workdir = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_spark(app_name="crawl_kill_probe")
import os
if not os.path.exists(src):
    fixture = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        F.concat(F.lit("<html><body><p>"), F.col("text"),
                 F.lit(" the of</p></body></html>")).alias("text"))
    W.write_fixture_archives(fixture, src)
raw = (spark.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz")
       .load(src)
       .select(F.col("path").alias("archive_id"), F.col("content").alias("payload")))
res = prepare_corpus_from_crawl(spark, raw, workdir, run_id="run-probe")
print("BOUNDARIES " + __import__("json").dumps(res["boundaries"]))
"""


def run_child(sf_dir: str, src: str, workdir: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CHILD, sf_dir, src, workdir, str(ROOT)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/jonesy_sf1")
    ap.add_argument("--workdir", default="/tmp/crawl_kill_probe")
    args = ap.parse_args()

    root = args.workdir
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    src = f"{root}/raw_archives"
    a, b = f"{root}/a", f"{root}/b"

    # control: uninterrupted run (also writes the shared fixture)
    t0 = time.time()
    p = run_child(args.sf_dir, src, a)
    out, _ = p.communicate()
    assert p.returncode == 0, "control run failed"
    wall_a = round(time.time() - t0, 1)
    print(f"control run: {wall_a} s")

    # the victim: kill AFTER intake commits (documents subtree landed)
    # and the corpus tier is underway, BEFORE the manifest lands
    t0 = time.time()
    p = run_child(args.sf_dir, src, b)
    kill_at = None
    while p.poll() is None:
        intake_done = bool(glob.glob(f"{b}/documents/ingest_batch=*/_SUCCESS"))
        manifest = os.path.exists(f"{b}/_MANIFEST.json")
        if intake_done and not manifest:
            # give the corpus tier a beat so the kill lands mid-tier
            time.sleep(5)
            if p.poll() is None and not os.path.exists(f"{b}/_MANIFEST.json"):
                kill_at = sorted(
                    d for d in ("corpus/split", "corpus/sequences")
                    if os.path.exists(f"{b}/{d}")
                )
                p.send_signal(signal.SIGKILL)
                p.wait()
                break
        time.sleep(0.5)
    assert kill_at is not None, "job finished before the kill window"
    print(f"killed at +{round(time.time() - t0, 1)} s; landed so far: "
          f"intake + {kill_at or ['(corpus tier not yet on disk)']}")
    assert not os.path.exists(f"{b}/_MANIFEST.json")

    # the committed front door must refuse the partial state
    from jonesy_spark.pipeline.corpus_job import read_corpus_outputs
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="crawl_kill_probe_verify")
    try:
        read_corpus_outputs(spark, b)
        raise AssertionError("front door read a partial, uncommitted run")
    except FileNotFoundError as e:
        print(f"front door refused as required: {e}")

    # resume: the same composition re-run end to end
    t0 = time.time()
    p = run_child(args.sf_dir, src, b)
    out_b, _ = p.communicate()
    assert p.returncode == 0, "resume run failed"
    wall_b = round(time.time() - t0, 1)
    print(f"resume run: {wall_b} s")

    man_a = json.load(open(f"{a}/_MANIFEST.json"))
    man_b = json.load(open(f"{b}/_MANIFEST.json"))
    assert man_a == man_b, "manifest mismatch after resume"

    seq_a = read_corpus_outputs(spark, a)["sequences"]
    seq_b = read_corpus_outputs(spark, b)["sequences"]
    from pyspark.sql import functions as F

    def digest(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("seq_tokens").alias("tok"),
            F.sum(F.crc32(F.col("seq_text"))).alias("crc"),
        ).collect()[0].asDict()

    da, db = digest(seq_a), digest(seq_b)
    assert da == db, f"sequence content diverged: {da} vs {db}"
    print("RESULT " + json.dumps({
        "wall_control_s": wall_a,
        "wall_resume_s": wall_b,
        "killed_with_on_disk": ["documents(intake)"] + kill_at,
        "boundaries": man_a["boundaries"],
        "sequences_digest": {k: int(v) for k, v in da.items()},
        "manifest_identical": True,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
