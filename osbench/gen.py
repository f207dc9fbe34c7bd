"""Seeded input generators for the three workloads.

Everything here is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files. Only numpy and pyarrow are used, in the
calling process, so generation starts no JVM.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
EVENT_P = np.array([0.38, 0.27, 0.07, 0.13, 0.15])
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


def _events(rng: np.random.Generator, n_users: int, n_events: int, zipf_s: float) -> dict:
    """Columns of a ts-ordered event log; user activity is Zipf(s) over
    ranks and the rank -> user id map is a random permutation, so hot
    users are spread over the id range."""
    w = 1.0 / np.arange(1, n_users + 1) ** zipf_s
    cdf = np.cumsum(w / w.sum())
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n_events)), n_users - 1)
    user_of_rank = rng.permutation(n_users).astype(np.int64)
    # strictly increasing microsecond stamps: sorted draws plus the index
    ts = T0_US + np.sort(rng.integers(0, SPAN_US - n_events, n_events)) + np.arange(n_events)
    kind = rng.choice(len(EVENT_TYPES), size=n_events, p=EVENT_P)
    value = np.round(rng.lognormal(3.0, 1.0, n_events), 2)
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": user_of_rank[ranks],
        "event_type": EVENT_TYPES[kind],
        "value": value,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        "hot_users": user_of_rank[:1],
    }


def _event_table(cols: dict) -> pa.Table:
    names = ("event_id", "ts", "user_id", "event_type", "value", "props")
    t = pa.table({k: pa.array(cols[k]) for k in names})
    return t.set_column(1, "ts", t["ts"].cast(pa.timestamp("us")))


def dashboard_inputs(seed: int, out: str, n_users: int, n_events: int, n_files: int) -> dict:
    """``out/events.parquet/part-*.parquet`` (the layout ``load_table``
    reads) plus a few user ids for customer lookups."""
    rng = np.random.default_rng(seed)
    cols = _events(rng, n_users, n_events, zipf_s=0.8)
    _write_parts(_event_table(cols), os.path.join(out, "events.parquet"), n_files)
    present = np.unique(cols["user_id"])
    cold = rng.choice(present, size=1)
    return {
        "sf_dir": out,
        "events": n_events,
        "max_ts_ms": int(cols["ts"][-1] // 1000),
        "lookup_users": [int(cols["hot_users"][0]), int(cold[0])],
    }


def ingest_inputs(seed: int, out: str, n_users: int, n_files: int, per_file: int) -> dict:
    """JSON-lines event files, time-ordered across files, with strictly
    increasing mtimes so the file source replays them in order."""
    rng = np.random.default_rng(seed)
    n = n_files * per_file
    cols = _events(rng, n_users, n, zipf_s=0.8)
    d = os.path.join(out, "stream")
    os.makedirs(d, exist_ok=True)
    iso = np.datetime_as_string(cols["ts"].astype("datetime64[us]"), unit="us")
    base = 1_600_000_000
    for i in range(n_files):
        path = f"{d}/events-{i:04d}.json"
        with open(path, "w") as f:
            for j in range(i * per_file, (i + 1) * per_file):
                f.write(
                    json.dumps(
                        {
                            "event_id": int(cols["event_id"][j]),
                            "ts": str(iso[j]),
                            "user_id": int(cols["user_id"][j]),
                            "event_type": str(cols["event_type"][j]),
                            "value": float(cols["value"][j]),
                            "props": str(cols["props"][j]),
                        }
                    )
                    + "\n"
                )
        os.utime(path, (base + 10 * i, base + 10 * i))
    return {"stream_dir": d, "events": n, "files": n_files}


# ----------------------------------------------------------- corpus
STOP = {
    # stopwords unique to each language, so the language guess is
    # unambiguous; "xx" documents carry none and classify as unknown
    "en": ["the", "and", "of", "to", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "von"],
    "fr": ["le", "les", "et", "est", "une", "dans", "pour"],
    "es": ["el", "los", "y", "es", "una", "por"],
    "xx": [],
}
LANG_P = {"en": 0.55, "de": 0.15, "fr": 0.12, "es": 0.1, "xx": 0.08}
KEEP_LANGS = ("en", "de", "fr")


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    vowels = np.array(list("aeiouy"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(letters[rng.integers(0, 20)] + vowels[rng.integers(0, 6)] for _ in range(k)))
    return np.array(sorted(words))


def _doc(rng, vocab, lang: str, good: bool) -> list[str]:
    if not good:  # short, digit-heavy: quality far below the cut
        return [f"{rng.integers(0, 10**6)}#{rng.integers(0, 999)}" for _ in range(int(rng.integers(5, 12)))]
    n = int(rng.integers(40, 80))
    toks = list(vocab[rng.integers(0, len(vocab), n)])
    stops = STOP[lang]
    if stops:
        for p in rng.choice(n, size=n // 3, replace=False):
            toks[p] = stops[int(rng.integers(0, len(stops)))]
    return toks


def _write_parts(t: pa.Table, d: str, n_files: int) -> None:
    """A parquet directory of ``n_files`` row slices (the layout
    ``load_table`` reads), so scans run one task per file."""
    os.makedirs(d, exist_ok=True)
    bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]), f"{d}/part-{i:03d}.parquet")


def corpus_inputs(
    seed: int, out: str, n_docs: int, n_vec: int, dim: int, n_queries: int, n_files: int,
    dup_share: float = 0.15,
) -> dict:
    """Documents with planted duplicate families, and clustered
    embeddings with a query set.

    A family is a base document plus exact copies (case and spacing
    changed) and near copies (one or two content words replaced).
    ``families`` maps each family's ids; only good-quality documents
    in a kept language seed families, so every family survives the
    filters and must collapse to its minimum id."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 6000)
    langs = rng.choice(list(LANG_P), size=n_docs, p=list(LANG_P.values()))
    good = rng.random(n_docs) >= 0.12
    texts: list[str | None] = [None] * n_docs
    families: list[list[int]] = []
    n_dup = int(n_docs * dup_share)
    order = rng.permutation(n_docs)
    dup_ids = set(order[:n_dup].tolist())
    free = [int(i) for i in order[n_dup:]]
    for i in free:
        texts[i] = " ".join(_doc(rng, vocab, langs[i], good[i]))
    dup_list = sorted(dup_ids)
    rng.shuffle(dup_list)
    pos = 0
    while pos < len(dup_list):
        size = min(int(rng.integers(2, 5)), len(dup_list) - pos)
        ids = dup_list[pos : pos + size]
        pos += size
        lang = str(rng.choice(KEEP_LANGS))
        base = _doc(rng, vocab, lang, True)
        for j, i in enumerate(sorted(ids)):
            langs[i], good[i] = lang, True
            toks = list(base)
            if j and rng.random() < 0.5:  # exact copy: case + spacing only
                texts[i] = "  ".join(toks).upper() if rng.random() < 0.5 else " ".join(toks) + "  "
                continue
            if j:  # near copy
                for p in rng.choice(len(toks), size=int(rng.integers(1, 3)), replace=False):
                    toks[p] = str(vocab[rng.integers(0, len(vocab))])
            texts[i] = " ".join(toks)
        if size > 1:
            families.append(sorted(int(i) for i in ids))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.astype(str)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    _write_parts(docs, os.path.join(out, "documents.parquet"), n_files)

    # embeddings: a Gaussian mixture, so inverted lists are meaningful
    centers = rng.normal(0, 1, (32, dim))
    lab = rng.integers(0, 32, n_vec)
    vec = (centers[lab] + rng.normal(0, 0.35, (n_vec, dim))).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(lab.astype(np.int32)),
        }
    )
    _write_parts(emb, os.path.join(out, "embeddings.parquet"), n_files)
    qsrc = rng.choice(n_vec, size=n_queries, replace=False)
    queries = vec[qsrc] + rng.normal(0, 0.1, (n_queries, dim)).astype(np.float32)
    np.save(os.path.join(out, "queries.npy"), queries.astype(np.float64))

    expected_keep = sorted(
        i for i in range(n_docs) if good[i] and langs[i] in KEEP_LANGS
    )
    meta = {"families": families, "candidates_keep": expected_keep}
    with open(os.path.join(out, "corpus_meta.json"), "w") as f:
        json.dump(meta, f)
    return {"docs": n_docs, "vectors": n_vec, "dim": dim, "queries": n_queries, "dir": out}
