"""The benchmark's checks must fail on wrong output.

    python3 -m pytest perfbench -q

Each test builds a correct output — audit + kept tables and summary
labelled by the row-at-a-time oracle, near-dup cluster labels over planted
pairs, JSON-LD documents from the DuckDB oracle — corrupts one thing and
expects the check to report it. No Spark session is started.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from metacheck_spark.fixtures.gen_images import gen_rows, url_status_map
from metacheck_spark.fixtures.oracle import label_rows
from perfbench import checks, docjobs, filterjob, inputs

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def labels():
    return label_rows(gen_rows(60, seed=5), url_status_map())


def _write(out: Path, audit: list[dict], kept: list[dict]) -> str:
    (out / "audit").mkdir(parents=True)
    (out / "kept").mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            [{k: r[k] for k in ("image_id", "rule_hits", "keep", "scrubbed_caption")} for r in audit],
            schema=pa.schema(
                [("image_id", pa.string()), ("rule_hits", pa.list_(pa.string())),
                 ("keep", pa.bool_()), ("scrubbed_caption", pa.string())]
            ),
        ),
        out / "audit" / "part-0.parquet",
    )
    pq.write_table(
        pa.Table.from_pylist(
            [{"image_id": r["image_id"], "scrubbed_caption": r["scrubbed_caption"]} for r in kept],
            schema=pa.schema([("image_id", pa.string()), ("scrubbed_caption", pa.string())]),
        ),
        out / "kept" / "part-0.parquet",
    )
    summary = {"total_rows": len(audit), "kept_rows": sum(r["keep"] for r in audit)}
    (out / "summary.json").write_text(json.dumps({"summary": summary}))
    return str(out)


def _check(out, labels, audit, kept):
    ids = [r["image_id"] for r in labels]
    return filterjob.check_pass(_write(out, audit, kept), ids, labels)


def test_correct_output_passes(tmp_path, labels):
    kept = [r for r in labels if r["keep"]]
    assert _check(tmp_path, labels, labels, kept) == []


def test_one_flipped_keep_fails(tmp_path, labels):
    kept = [r for r in labels if r["keep"]]
    audit = [dict(r) for r in labels]
    audit[0]["keep"] = not audit[0]["keep"]
    assert _check(tmp_path, labels, audit, kept)


def test_scrubbed_caption_with_email_fails(tmp_path, labels):
    kept = [dict(r) for r in labels if r["keep"]]
    kept[0]["scrubbed_caption"] += " mail jane.doe@example.org"
    problems = _check(tmp_path, labels, labels, kept)
    assert any("PII" in p for p in problems)


def test_scrubbed_caption_with_phone_fails(tmp_path, labels):
    kept = [dict(r) for r in labels if r["keep"]]
    kept[-1]["scrubbed_caption"] += " call 555-123-4567"
    assert any("PII" in p for p in _check(tmp_path, labels, labels, kept))


def test_duplicated_audit_row_fails(tmp_path, labels):
    kept = [r for r in labels if r["keep"]]
    assert _check(tmp_path, labels, labels + labels[:1], kept)


def test_wrong_rule_hits_fails(tmp_path, labels):
    kept = [r for r in labels if r["keep"]]
    audit = [dict(r) for r in labels]
    audit[3]["rule_hits"] = list(audit[3]["rule_hits"]) + ["W003"]
    assert any("oracle" in p for p in _check(tmp_path, labels, audit, kept))


@pytest.fixture(scope="module")
def corpus():
    texts, planted = inputs.dedup_docs(3)
    labels = {i: min(a, b) for a, b in planted for i in (a, b)}
    return texts, planted, labels


def _dedup_problems(corpus, pairs, labels):
    texts, planted, _ = corpus
    return (
        checks.planted_pairs_together(planted, labels)
        + checks.pairs_meet_threshold(pairs, texts, docjobs.THRESHOLD)
        + checks.labels_are_components(pairs, labels)
    )


def test_correct_clusters_pass(corpus):
    assert _dedup_problems(corpus, corpus[1], corpus[2]) == []


def test_planted_pair_split_across_clusters_fails(corpus):
    _, planted, labels = corpus
    labels = dict(labels)
    labels[planted[0][1]] = planted[0][1]
    problems = _dedup_problems(corpus, planted, labels)
    assert any("split" in p for p in problems)


def test_pair_below_threshold_fails(corpus):
    texts, planted, labels = corpus
    a, b = sorted(texts)[1], sorted(texts)[2]
    problems = _dedup_problems(corpus, planted + [(a, b)], {**labels, a: a, b: a})
    assert any("Jaccard" in p for p in problems)


@pytest.fixture(scope="module")
def jsonld(tmp_path_factory):
    inp = tmp_path_factory.mktemp("somef")
    inputs.write_documents({}, list(range(40, 100)), str(inp), files=2)
    return docjobs.somef_oracle(str(inp))


def _written(out: Path, cols, rows) -> tuple:
    out.mkdir()
    with open(out / "part-0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(dict(zip(cols, r))) + "\n")
    return docjobs.read_assessments(str(out))


def test_oracle_documents_pass(tmp_path, jsonld):
    assert jsonld[1] and checks.same_table(*_written(tmp_path / "o", *jsonld), *jsonld) == []


def test_one_altered_jsonld_byte_fails(tmp_path, jsonld):
    cols, rows = jsonld
    a = cols.index("assessment")
    bad = [list(r) for r in rows]
    s = bad[5][a]
    k = s.index("P0")
    bad[5][a] = s[:k] + "Q" + s[k + 1:]
    got = _written(tmp_path / "o", cols, [tuple(r) for r in bad])
    assert checks.same_table(*got, *jsonld) == ["jsonld: documents differ from the oracle's"]


def test_refuses_a_checkout_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "filter_images",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
