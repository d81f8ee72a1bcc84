"""The quality-filter job as tools/run_job.py shapes it, one pass at a time,
plus the cumulative stage prefixes the traced run times into a no-op sink.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from metacheck_spark import pipeline as PL
from metacheck_spark.sources.readers import read_images, read_url_status
from metacheck_spark.sources.sinks import write_summary

from perfbench import checks, probe

RUN_TS = "1970-01-01T00:00:00Z"
# run_job.py's --buckets/--salt, fitted to a 4-core host: its defaults
# (32/8) make the audit write 32 tasks, each paying the fixed task cost.
BUCKETS = 8
SALT = 4


def _no_span(_name):
    return nullcontext()


def run_pass(spark, inp: str, out: str, span=None) -> None:
    """input table -> audit + kept tables + summary file, written under out."""
    span = span or _no_span
    audit, kept = f"{out}/audit", f"{out}/kept"
    with span("build_plan"):
        images = read_images(spark, f"{inp}/images")
        url_status = read_url_status(spark, f"{inp}/url_status.parquet")
        todo = PL.resume_filter(images, PL.completed_buckets(spark, audit), BUCKETS)
        labeled = PL.with_labels(PL.assemble_flags(todo, url_status))
        audit_df = PL.audit_frame(labeled, RUN_TS, BUCKETS)
    with span("audit_write"):
        PL.write_audit(audit_df, audit, BUCKETS)
    with span("kept_reconcile"):
        PL.reconcile_kept(spark, audit, kept, SALT)
    with span("summary"):
        write_summary(spark.read.parquet(audit), f"{out}/summary.json")


def out_bytes(out: str) -> int:
    """Bytes of the data files the pass wrote (no checksums, no markers)."""
    total = 0
    for d, _, files in os.walk(out):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
    return total


def check_pass(out: str, input_ids: list[str], oracle: list[dict]) -> list[str]:
    audit = pq.read_table(
        f"{out}/audit", columns=["image_id", "rule_hits", "keep", "scrubbed_caption"]
    ).to_pylist()
    kept = pq.read_table(f"{out}/kept", columns=["image_id", "scrubbed_caption"]).to_pylist()
    with open(f"{out}/summary.json") as f:
        summary = json.load(f)["summary"]
    keep_ids = [r["image_id"] for r in audit if r["keep"]]
    problems = (
        checks.audit_ids(input_ids, [r["image_id"] for r in audit])
        + checks.kept_matches_audit(keep_ids, [r["image_id"] for r in kept])
        + checks.no_pii([r["scrubbed_caption"] for r in kept])
        + checks.matches_oracle({r["image_id"]: r for r in audit}, oracle)
    )
    if (summary["total_rows"], summary["kept_rows"]) != (len(audit), len(keep_ids)):
        problems.append(f"summary: {summary} disagrees with the audit table")
    return problems


def run_checked_pass(spark, inp, out, input_ids, oracle, span=None) -> dict:
    """One operation: a pass, its output size and its checks; the output
    is removed afterwards so every pass starts from an empty target."""
    c0, t0 = probe.tree_cpu_s(), time.perf_counter()
    run_pass(spark, inp, out, span)
    wall = time.perf_counter() - t0
    cpu = probe.tree_cpu_s() - c0
    res = {"wall_s": wall, "cpu_s": cpu, "out_bytes": out_bytes(out)}
    res["problems"] = check_pass(out, input_ids, oracle)
    shutil.rmtree(out)
    return res


def layer_prefixes(spark, inp: str, timed) -> dict[str, float]:
    """Cumulative stage prefixes of the flag assembly into the noop sink,
    composed from the pipeline's public stage functions in assemble_flags'
    order. Returns each stage's increment over the previous prefix."""
    images = read_images(spark, f"{inp}/images")
    url_status = read_url_status(spark, f"{inp}/url_status.parquet")

    def sanity():
        return images.withColumns(PL.binary_sanity_cols())

    def decode():
        return (
            sanity()
            .withColumn("dec", PL.decode_udf(F.col("bytes")))
            .select("*", "dec.decoded_ok", "dec.phash_calc")
            .drop("dec")
        )

    def caption():
        udf = PL.make_caption_stage_udf(spark, url_status)
        return decode().withColumn("m", udf(F.col("caption"))).select("*", "m.*").drop("m")

    def labels():
        return PL.audit_frame(
            PL.with_labels(PL.assemble_flags(images, url_status)), RUN_TS, BUCKETS
        )

    stages = [
        ("scan.s", lambda: images),
        ("sanity.s", sanity),
        ("decode.s", decode),
        ("caption_udf.s", caption),
        ("labels.s", labels),
    ]
    out, prev = {}, 0.0
    for name, build in stages:
        t = timed(name, lambda: build().write.format("noop").mode("overwrite").save())
        out[name] = t - prev
        prev = t
    return out
