"""Seeded input generators for the benchmark.

Everything here is plain numpy/pandas/pyarrow: the program under test only
ever sees the files these functions write. The same seed gives the same
files, byte for byte.

Sensor readings follow the reference's raw shape (FIXTURES.md §1): one
parquet file per day named ``YYYY-MM-DD.parquet``, pandas-written, so the
``timestamp`` column is TIMESTAMP(NANOS). Each file carries two exact
duplicate rows, ~10 % null batteries, ~5 % invalid batteries and ~10 %
out-of-range values. ``write_bad_schema_files`` adds the three variants
the ingestion gate must reject (FIXTURES.md §2).

Documents and embeddings follow the ``documents`` / ``embeddings`` testdata
schemas. The corpus is planted with exact duplicates (case/whitespace
variants, which ``lower(trim(text))`` folds together), near-duplicate
edits, low-quality documents and documents that copy a passage from the
``doc_id % 97 == 0`` benchmark slice (decontamination targets). Vectors are
drawn around 16 cluster centres, with near-duplicate copies.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TYPES = ("temperature", "humidity")
SLOTS_PER_DAY = 96  # 15-minute cadence
START_DAY = dt.date(2023, 6, 1)

STOPWORDS = ("the", "and", "of", "to", "in")
VOCAB = tuple(
    f"{a}{b}"
    for a in ("ka", "lo", "mi", "nu", "po", "ra", "si", "tu", "ve", "zo",
              "ba", "de", "fi", "go", "hu")
    for b in ("ran", "tel", "mok", "sip", "dun", "gar", "lev", "wot",
              "pix", "cul", "bem", "yor", "fas", "qin", "jed", "hab",
              "nor", "ket", "vil", "sud")
)  # 300 content words
QUERY_TERMS = VOCAB[:60]  # the pool BM25 requests draw from


def files_stats(paths) -> dict:
    paths = [Path(p) for p in paths]
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    return {"files": len(paths), "rows": rows,
            "bytes": sum(p.stat().st_size for p in paths)}


# --------------------------------------------------------------------------
# sensor readings


def sensor_weights(n_sensors: int, hot_share: float | None) -> np.ndarray:
    """Per-sensor probability that a 15-minute slot carries a reading.
    With ``hot_share`` the last sensor emits that share of all rows (the
    reference's sensor_5 ≈ 35 % skew); the others emit equally."""
    if hot_share is None:
        return np.full(n_sensors, 0.5)
    cold = 0.45
    hot = hot_share * cold * (n_sensors - 1) / (1.0 - hot_share)
    w = np.full(n_sensors, cold)
    w[-1] = min(hot, 1.0)
    return w


def sensor_day_frame(
    rng: np.random.Generator, day: dt.date, weights: np.ndarray
) -> pd.DataFrame:
    n_sensors = len(weights)
    base = np.datetime64(day.isoformat(), "ns")
    slot_ns = np.arange(SLOTS_PER_DAY, dtype=np.int64) * 15 * 60 * 10**9
    keep = rng.random((n_sensors, len(TYPES), SLOTS_PER_DAY)) < weights[:, None, None]
    s_idx, t_idx, slot = np.nonzero(keep)
    n = len(s_idx)
    is_temp = t_idx == 0
    value = np.where(is_temp, rng.normal(24.0, 6.0, n), rng.normal(50.0, 15.0, n))
    anomalous = rng.random(n) < 0.10
    high = rng.random(n) < 0.5
    value = np.where(
        anomalous,
        np.where(is_temp, np.where(high, 80.0, -25.0), np.where(high, 130.0, -10.0)),
        value,
    )
    battery = rng.uniform(25.0, 100.0, n)
    b_invalid = rng.random(n) < 0.05
    battery = np.where(b_invalid, np.where(rng.random(n) < 0.5, 125.0, -10.0), battery)
    battery = np.where(rng.random(n) < 0.10, np.nan, battery)
    df = pd.DataFrame(
        {
            "sensor_id": np.array([f"sensor_{i + 1}" for i in range(n_sensors)])[s_idx],
            "timestamp": base + slot_ns[slot],
            "reading_type": np.array(TYPES)[t_idx],
            "value": value,
            "battery_level": battery,
        }
    )
    if n >= 10:  # two exact duplicate rows per file (generator quirk)
        dups = df.iloc[rng.choice(n, 2, replace=False)]
        df = pd.concat([df, dups], ignore_index=True)
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def write_sensor_days(
    raw_dir: Path,
    seed: int,
    n_days: int,
    n_sensors: int,
    hot_share: float | None = None,
    first_day: int = 0,
) -> list[Path]:
    """Write days ``first_day .. first_day+n_days-1`` as one file each.
    Day ``i`` is drawn from ``seed`` and ``i`` alone, so a file's bytes do
    not depend on which other days are generated."""
    raw_dir.mkdir(parents=True, exist_ok=True)
    weights = sensor_weights(n_sensors, hot_share)
    out = []
    for i in range(first_day, first_day + n_days):
        rng = np.random.default_rng([seed, n_sensors, i])
        day = START_DAY + dt.timedelta(days=i)
        path = raw_dir / f"{day.isoformat()}.parquet"
        sensor_day_frame(rng, day, weights).to_parquet(path, index=False)
        out.append(path)
    return out


BAD_VARIANTS = ("missing_columns", "extra_columns", "wrong_types")


def write_bad_schema_files(raw_dir: Path, seed: int, after_day: int) -> dict[str, str]:
    """The three FIXTURES.md §2 variants, dated after the good history.
    Returns ``{file name: variant}``."""
    rng = np.random.default_rng([seed, 7919])
    out = {}
    for j, variant in enumerate(BAD_VARIANTS):
        day = START_DAY + dt.timedelta(days=after_day + j)
        df = sensor_day_frame(rng, day, sensor_weights(5, None))
        if variant == "missing_columns":
            df = df.drop(columns=["battery_level"])
        elif variant == "extra_columns":
            df["location"] = rng.choice(["field_a", "field_b", "greenhouse"], len(df))
        else:
            df["value"] = df["value"].astype(str)
        name = f"{day.isoformat()}_{variant}.parquet"
        df.to_parquet(raw_dir / name, index=False)
        out[name] = variant
    return out


# --------------------------------------------------------------------------
# documents and embeddings

DOC_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)
EMB_DIM = 64
EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
     ("label", pa.int32())]
)
BENCH_MOD = 97  # the curation oracle's benchmark slice: doc_id % 97 == 0


def _words(rng: np.random.Generator, n: int) -> list[str]:
    content = rng.choice(len(VOCAB), n)
    stop = rng.choice(len(STOPWORDS), n)
    use_stop = rng.random(n) < 0.22
    return [STOPWORDS[s] if u else VOCAB[c] for c, s, u in zip(content, stop, use_stop)]


@dataclass
class TextPool:
    """Every text written so far, and the ids of the fresh ones: copies
    (exact, near-duplicate, contaminating) are only ever made of fresh
    texts, so duplicate clusters are stars, as in a crawl that re-fetches
    pages, and the curation oracle's label propagation stays shallow."""

    texts: dict[int, str] = field(default_factory=dict)
    originals: list[int] = field(default_factory=list)


def doc_texts(rng: np.random.Generator, ids: np.ndarray, pool: TextPool) -> list[str]:
    """Texts for ``ids``. Most are fresh random prose; planted shares copy
    a fresh text (exact or case/space variant), edit one (near duplicate:
    1-3 word substitutions), are low quality, or embed a six-word passage
    of a benchmark-slice document (``doc_id % 97 == 0``)."""
    out = []
    for doc_id in ids:
        r = rng.random()
        orig = pool.originals
        src = orig[int(rng.integers(len(orig)))] if orig else None
        bench = [i for i in orig if i % BENCH_MOD == 0]
        fresh = False
        if src is not None and r < 0.06:  # exact duplicate (maybe re-cased)
            t = pool.texts[src]
            t = t.upper() if rng.random() < 0.3 else t
            text = ("  " + t + " ") if rng.random() < 0.3 else t
        elif src is not None and r < 0.14:  # near duplicate
            w = pool.texts[src].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                w[int(rng.integers(len(w)))] = VOCAB[int(rng.integers(len(VOCAB)))]
            text = " ".join(w)
        elif r < 0.20:  # low quality: short, punctuation-heavy, no stopwords
            w = [VOCAB[int(c)] for c in rng.choice(len(VOCAB), int(rng.integers(3, 9)))]
            text = "!! ".join(w) + "?!;"
        elif bench and r < 0.24:  # contaminated: copies a benchmark passage
            b = pool.texts[bench[int(rng.integers(len(bench)))]].split(" ")
            start = int(rng.integers(max(len(b) - 6, 1)))
            text = " ".join(_words(rng, int(rng.integers(20, 50))) + b[start:start + 6])
        else:
            text = " ".join(_words(rng, int(rng.integers(45, 110))))
            fresh = True
        pool.texts[int(doc_id)] = text
        if fresh:
            pool.originals.append(int(doc_id))
        out.append(text)
    return out


def documents_table(rng: np.random.Generator, ids: np.ndarray, pool: TextPool) -> pa.Table:
    texts = doc_texts(rng, ids, pool)
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, len(ids))]
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 50}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


def embeddings_table(rng: np.random.Generator, n: int, n_clusters: int = 16) -> pa.Table:
    centres = rng.normal(0.0, 1.0, (n_clusters, EMB_DIM))
    label = rng.integers(0, n_clusters, n)
    vecs = centres[label] + rng.normal(0.0, 0.35, (n, EMB_DIM))
    near = rng.random(n) < 0.05  # near-duplicate vectors of an earlier row
    for i in np.nonzero(near)[0]:
        if i:
            vecs[i] = vecs[int(rng.integers(i))] + rng.normal(0.0, 0.01, EMB_DIM)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        },
        schema=EMB_SCHEMA,
    )


def write_corpus(corpus_dir: Path, seed: int, n_docs: int) -> tuple[TextPool, dict]:
    """``corpus_dir/documents.parquet`` (a directory dataset, so streamed
    drops append part files) and ``embeddings.parquet`` with
    ``vec_id = doc_id``. Returns the text pool and input stats."""
    rng = np.random.default_rng([seed, 1])
    pool = TextPool()
    docs_dir = corpus_dir / "documents.parquet"
    docs_dir.mkdir(parents=True, exist_ok=True)
    paths = [docs_dir / "part-00000.parquet", corpus_dir / "embeddings.parquet"]
    pq.write_table(documents_table(rng, np.arange(n_docs), pool), paths[0])
    pq.write_table(embeddings_table(np.random.default_rng([seed, 2]), n_docs), paths[1])
    return pool, files_stats(paths)
