"""Seeded inputs for the benchmark workloads.

Every table is a pure function of the workload seed. Inputs are written as
a fixed number of parquet files, one per local core, so every run reads the
same split layout: a Python-UDF task has a fixed cost, and wall time moves
with the task count as much as with the row count.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from metacheck_spark.fixtures import codec
from metacheck_spark.fixtures import gen_images as G
from metacheck_spark.functions.langid import LANGS
from metacheck_spark.functions.patterns import TOXIC_LEXICON

# Both filter workloads: BASE_ROWS distinct rows, each written TILES times
# under distinct image_ids. Generating a row costs a fraction of a
# millisecond to milliseconds (the JFIF encoder is pure numpy); tiling keeps
# generation out of the run budget while the job still decodes and scores
# every row, and the per-row stages outweigh the fixed per-job costs.
IMAGE_BASE_ROWS = 1500
IMAGE_TILES = 8
# filter_captions: tiny PNGs, captions ~4x the generator's.
CAPTION_BASE_ROWS = 3000
CAPTION_TILES = 4
CAPTION_WORDS = (24, 56)
TINY_DIM = 8


def _table(rows: list[dict]) -> pa.Table:
    return pa.table(
        {
            "image_id": [r["image_id"] for r in rows],
            "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
            "w": pa.array([r["w"] for r in rows], type=pa.int32()),
            "h": pa.array([r["h"] for r in rows], type=pa.int32()),
            "fmt": [r["fmt"] for r in rows],
            "caption": [r["caption"] for r in rows],
            "phash": pa.array([r["phash"] for r in rows], type=pa.int64()),
        }
    )


def _tile(base: list[dict], tiles: int, prefix: str) -> list[dict]:
    """Copy k of base row i is image_id <prefix>_<k><i>."""
    return [
        {**r, "image_id": f"{prefix}_{k:02d}{i:010d}"}
        for k in range(tiles)
        for i, r in enumerate(base)
    ]


def image_rows(seed: int) -> list[dict]:
    """The generator's own rows (60% PNG, 30% legacy fake-JPEG, 10% JFIF)."""
    return _tile(G.gen_rows(IMAGE_BASE_ROWS, seed), IMAGE_TILES, "img")


def _long_caption(rng: np.random.Generator) -> str:
    """A caption several times the generator's length, drawn with the
    generator's own mix: 1% mixed-language, 1% gibberish, 30% one rule
    trigger, 13% decoy, then 10% PII and 5% toxicity appended."""
    lang = LANGS[int(rng.choice(len(LANGS), p=G._ZIPF))]
    caption = G._base_caption(rng, lang, int(rng.integers(*CAPTION_WORDS)))
    cr = rng.random()
    if cr < 0.01:
        picks = rng.choice(len(LANGS), 3, replace=False)
        caption = " ".join(G._base_caption(rng, LANGS[int(j)], 12) for j in picks)
    elif cr < 0.02:
        caption = "".join(
            G.GIBBERISH_CHARS[int(j)]
            for j in rng.integers(0, len(G.GIBBERISH_CHARS), 160)
        )
    elif cr < 0.32:
        _, snip, mode = G.TRIGGERS[int(rng.integers(0, len(G.TRIGGERS)))]
        s = snip(rng)
        if mode == "replace":
            caption = s
        elif mode == "replace_keep_lang":
            caption = G._base_caption(rng, lang, 3) + " " + s
        else:
            caption = caption + " " + s
    elif cr < 0.45:
        caption = caption + " " + G.DECOYS[int(rng.integers(0, len(G.DECOYS)))](rng)
    if rng.random() < 0.10:
        caption = caption + " " + G.PII[int(rng.integers(0, len(G.PII)))](rng)
    if rng.random() < 0.05:
        caption = caption + " " + TOXIC_LEXICON[int(rng.integers(0, len(TOXIC_LEXICON)))]
    return caption


def caption_rows(seed: int) -> list[dict]:
    """Tiny valid PNGs (decode does almost nothing) under long captions."""
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = []
    for _ in range(CAPTION_BASE_ROWS):
        arr = rng.integers(0, 256, (TINY_DIM, TINY_DIM, 3), dtype=np.uint8)
        b = codec.png_encode(arr)
        rows.append(
            {
                "image_id": "",
                "bytes": b,
                "w": TINY_DIM,
                "h": TINY_DIM,
                "fmt": "png",
                "caption": _long_caption(rng),
                "phash": codec.average_phash(codec.decode(b)),
            }
        )
    return _tile(rows, CAPTION_TILES, "cap")


def write_images(rows: list[dict], out_dir: str, files: int) -> None:
    """images/part-<k>.parquet (one file per core) + url_status.parquet."""
    table = _table(rows)
    os.makedirs(f"{out_dir}/images")
    n = len(table)
    for k in range(files):
        lo, hi = k * n // files, (k + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), f"{out_dir}/images/part-{k:02d}.parquet")
    us = G.url_status_rows()
    pq.write_table(
        pa.table(
            {
                "url": [u for u, _, _ in us],
                "status_code": pa.array([c for _, c, _ in us], type=pa.int32()),
                "error": [e for _, _, e in us],
            }
        ),
        f"{out_dir}/url_status.parquet",
    )


WORKLOADS = {"filter_images": image_rows, "filter_captions": caption_rows}


# --- document inputs of the traced runs ---------------------------------------

# dedup_docs: DEDUP_SHARDS copies of DEDUP_BASE_DOCS seeded Zipf-vocabulary
# documents, each copy's words renamed (w -> s<k>w) as
# tools/run_scaling_dedup._corpus relabels sf0.1 shards, so shards share no
# shingles; every 23rd document gets a planted near-dup (" extra token").
DEDUP_BASE_DOCS = 250
DEDUP_SHARDS = 2
DEDUP_VOCAB = 3000
PLANT_EVERY = 23
PLANT_OFFSET = 500_000_000
# assess_somef: the nested SoMEF fixture is a function of doc_id alone.
SOMEF_DOCS = 400


def dedup_docs(seed: int) -> tuple[dict[int, str], list[tuple[int, int]]]:
    """({doc_id: text}, planted near-dup pairs)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, int(k))) for k in rng.integers(3, 10, DEDUP_VOCAB)]
    p = 1.0 / np.arange(1, DEDUP_VOCAB + 1) ** 0.9
    p /= p.sum()
    base = []
    for n in rng.integers(20, 121, DEDUP_BASE_DOCS):
        base.append([vocab[j] for j in rng.choice(DEDUP_VOCAB, int(n), p=p)])
    texts: dict[int, str] = {}
    for k in range(DEDUP_SHARDS):
        for i, words in enumerate(base):
            texts[k * 10_000_000 + i] = " ".join(f"s{k}{w}" for w in words)
    planted = [(d, d + PLANT_OFFSET) for d in sorted(texts) if d % PLANT_EVERY == 0]
    for a, b in planted:
        texts[b] = texts[a] + " extra token"
    return texts, planted


def somef_doc_ids(seed: int) -> list[int]:
    """SOMEF_DOCS consecutive doc_ids from a seeded start."""
    start = int(np.random.Generator(np.random.PCG64(seed)).integers(0, 1_000_000))
    return list(range(start, start + SOMEF_DOCS))


def write_documents(
    texts: dict[int, str], doc_ids: list[int], out_dir: str, files: int
) -> None:
    """dedup_docs/ (doc_id, text) and documents.parquet/ (doc_id), each as
    `files` parquet files."""
    for name, table in [
        ("dedup_docs", pa.table({"doc_id": pa.array(list(texts), pa.int64()),
                                 "text": list(texts.values())})),
        ("documents.parquet", pa.table({"doc_id": pa.array(doc_ids, pa.int64())})),
    ]:
        os.makedirs(f"{out_dir}/{name}")
        n = len(table)
        for k in range(files):
            lo, hi = k * n // files, (k + 1) * n // files
            pq.write_table(table.slice(lo, hi - lo), f"{out_dir}/{name}/part-{k:02d}.parquet")
