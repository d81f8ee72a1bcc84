"""The two document jobs whose layers the traced runs measure: the near-dup
chain (minhash_dedup_pairs ∪ winnow_overlap_pairs → dedup_clusters → cluster
labels) and the SoMEF 27-rule JSON-LD assessment (nested_assessments over
the _nested_fixture_df shape → JSON-LD documents). Each has a checked pass,
its layer timings and its counts.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from metacheck_spark.caching import CacheRegistry
from metacheck_spark.operators import dedup as D
from metacheck_spark.rules import somef as M
from metacheck_spark.sources.jsonld import nested_assessments

from perfbench import checks

# the dedup job's settings, as the bench's minhash and winnow queries set them
THRESHOLD = 0.8
MIN_SHARED = 20
MAX_DOC_FREQ = 50


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _docs(spark, inp: str) -> DataFrame:
    return spark.read.parquet(f"{inp}/dedup_docs")


def _minhash(docs, caches, observation=None) -> DataFrame:
    return D.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=THRESHOLD, caches=caches,
        observation=observation,
    ).select("id_a", "id_b")


def _winnow(docs) -> DataFrame:
    return D.winnow_overlap_pairs(
        docs, "text", "doc_id", min_shared=MIN_SHARED, max_doc_freq=MAX_DOC_FREQ
    ).select("id_a", "id_b")


def dedup_pass(spark, inp: str, out: str) -> float:
    """documents → cluster labels written as parquet; returns the seconds."""
    t0 = time.perf_counter()
    docs = _docs(spark, inp)
    with CacheRegistry() as caches:
        pairs = _minhash(docs, caches).unionAll(_winnow(docs))
        D.dedup_clusters(pairs, caches=caches).write.parquet(f"{out}/labels")
    return time.perf_counter() - t0


class _CountCheckpoints:
    """Counts localCheckpoint calls on DataFrames while active:
    dedup_clusters checkpoints the edge list, the initial labels and then
    once per round."""

    def __init__(self, spark) -> None:
        self._cls = type(spark.range(0))

    def __enter__(self):
        self.n, self._orig = 0, self._cls.localCheckpoint

        def counted(df, *a, **k):
            self.n += 1
            return self._orig(df, *a, **k)

        self._cls.localCheckpoint = counted
        return self

    def __exit__(self, *exc):
        self._cls.localCheckpoint = self._orig
        return False


def dedup_layers(spark, inp: str, out: str, texts: dict[int, str], planted, timed):
    """A warm-up and a timed pass of the chain, its checks, then the
    cumulative prefixes of each pair generator into the noop sink; the
    cluster resolution is the pass less the two generators' prefixes.

    Returns (layers, problems)."""
    dedup_pass(spark, inp, f"{out}/warm")
    with _CountCheckpoints(spark) as ck:
        wall = dedup_pass(spark, inp, f"{out}/pass")
    labels = {
        r["id"]: r["cluster_id"]
        for r in pq.read_table(f"{out}/pass/labels").to_pylist()
    }
    docs = _docs(spark, inp)
    obs = Observation()
    with CacheRegistry() as caches:
        mh = [(r.id_a, r.id_b) for r in _minhash(docs, caches, obs).collect()]
        routing = obs.get
    wn = [(r.id_a, r.id_b) for r in _winnow(docs).collect()]
    problems = (
        checks.planted_pairs_together(planted, labels)
        + checks.pairs_meet_threshold(mh, texts, THRESHOLD)
        + checks.labels_are_components(mh + wn, labels)
    )

    got = {}
    sig = timed("minhash_sig.s", lambda: _noop(D.minhash_signatures(docs, "text", "doc_id")))
    lsh = timed(
        "lsh_candidates.s",
        lambda: got.update(n=D.minhash_lsh_candidates(docs, "text", "doc_id").count()),
    )
    with CacheRegistry() as caches:
        mh_s = timed("verify.s", lambda: _noop(_minhash(docs, caches)))
    fp = timed("winnow_fp.s", lambda: _noop(D.winnow_fingerprints(docs, "text", "doc_id")))
    wn_s = timed("winnow_pairs.s", lambda: _noop(_winnow(docs)))
    cands = got["n"]
    return {
        "dedup.wall_s": wall,
        "minhash_sig.s": sig,
        "lsh_candidates.s": lsh - sig,
        "verify.s": mh_s - lsh,
        "winnow_fp.s": fp,
        "winnow_pairs.s": wn_s - fp,
        "clusters.s": wall - mh_s - wn_s,
        "candidate_pairs": cands,
        "verified_pairs": len(mh),
        "verify_yield": len(mh) / cands if cands else 0.0,
        "max_bucket_size": routing.get("max_bucket_size") or 0,
        "star_routed_ids": routing.get("star_routed_ids") or 0,
        "cluster_rounds": ck.n - 2,
        "clusters": len(set(labels.values())),
    }, problems


# --- SoMEF assessment --------------------------------------------------------


def _entry_module():
    import __spark_entry__

    return __spark_entry__


def _assessments(spark, inp: str) -> DataFrame:
    E = _entry_module()
    df = E._nested_fixture_df(spark, inp).withColumn(
        "_file", F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
    )
    return nested_assessments(df, E._NESTED_URL_STATUS)


def somef_oracle(inp: str) -> tuple[list[str], list[tuple]]:
    """The DuckDB recomputation (_somef_jsonld_sql) over the same documents
    table: (columns, rows)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{inp}/documents.parquet/*.parquet')"
    )
    rel = con.execute(_entry_module()._somef_jsonld_sql())
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    con.close()
    return cols, rows


def read_assessments(out: str) -> tuple[list[str], list[tuple]]:
    """The JSON lines the pass wrote, as (columns, rows)."""
    cols, rows = None, []
    for name in sorted(os.listdir(out)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(out, name)) as f:
            for line in f:
                rec = json.loads(line)
                cols = cols or list(rec)
                rows.append(tuple(rec[c] for c in cols))
    return cols or ["file", "assessment"], rows


def assess_pass(spark, inp: str, out: str) -> tuple[float, float]:
    """documents → JSON-LD assessment documents written as JSON lines;
    returns (seconds of the pass, seconds spent building the executed
    plan)."""
    t0 = time.perf_counter()
    df = _assessments(spark, inp)
    df._jdf.queryExecution().executedPlan()
    plan = time.perf_counter() - t0
    df.write.json(f"{out}/jsonld")
    return time.perf_counter() - t0, plan


def _serialized_plan_bytes(spark, df: DataFrame) -> int:
    """Java-serialized size of the physical plan: what the stages' task
    binaries carry, summed over the plan."""
    jvm = spark.sparkContext._jvm
    bos = jvm.java.io.ByteArrayOutputStream()
    oos = jvm.java.io.ObjectOutputStream(bos)
    oos.writeObject(df._jdf.queryExecution().sparkPlan())
    oos.close()
    return bos.size()


def somef_layers(spark, inp: str, out: str, oracle, timed):
    """One warm-up and one timed pass of the assessment and its check, then
    the rule battery alone into the noop sink. Returns (layers, problems)."""
    assess_pass(spark, inp, f"{out}/warm")
    wall, plan = assess_pass(spark, inp, f"{out}/pass")
    cols, rows = read_assessments(f"{out}/pass/jsonld")
    problems = checks.same_table(cols, rows, *oracle)

    E = _entry_module()
    flags = timed(
        "somef_flags.s",
        lambda: _noop(M.nested_rule_flags(E._nested_fixture_df(spark, inp), E._NESTED_URL_STATUS)),
    )
    a = cols.index("assessment")
    return {
        "assess.wall_s": wall,
        "plan.s": plan,
        "somef_flags.s": flags,
        "jsonld_render.s": wall - flags,
        "task_binary_bytes": _serialized_plan_bytes(spark, _assessments(spark, inp)),
        "docs_flagged": len(rows),
        "checks_fired": sum(len(json.loads(r[a])["checks"]) for r in rows),
    }, problems
