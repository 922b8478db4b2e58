"""Seeded input generators, one per workload.

Each generator is a pure function of (seed, size): the same arguments give
the same rows, byte for byte. They build pandas frames with NumPy only —
no Spark — so the engine receives nothing but the generated tables. Every
generator also returns what it planted (heavy users, duplicates), which the
output checks use as ground truth.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

T0 = np.datetime64("2024-01-01T00:00:00", "us")


@dataclass
class Generated:
    tables: dict[str, pd.DataFrame]
    truth: dict = field(default_factory=dict)

    def digest(self) -> str:
        """Content hash of every table: equal digests mean equal rows."""
        h = hashlib.sha256()
        for name in sorted(self.tables):
            h.update(name.encode())
            h.update(pd.util.hash_pandas_object(
                self.tables[name].astype(str), index=True
            ).to_numpy().tobytes())
        return h.hexdigest()

    def describe(self) -> dict:
        return {
            name: {"rows": len(df), "bytes": int(df.memory_usage(deep=True).sum())}
            for name, df in self.tables.items()
        }


def events(seed: int, n_rows: int, n_users: int, n_heavy: int = 3,
           heavy_share: float = 0.04, purchase_p: float = 0.1,
           days: int = 90) -> Generated:
    """Event log ``(user_id, ts, value, event_type)``. ``n_heavy`` users
    each hold ``heavy_share`` of the rows — above the 2% share that
    ``detect_heavy_hitters`` flags — and the rest spread uniformly over
    the other users. (user, ts) pairs are unique, so every entity has a
    total time order."""
    rng = np.random.default_rng(seed)
    n_hv = int(n_rows * heavy_share) * n_heavy
    uid = np.concatenate([
        np.repeat(np.arange(n_heavy), n_hv // n_heavy),
        rng.integers(n_heavy, n_users, n_rows - n_hv),
    ])
    secs = rng.integers(0, days * 86400, n_rows)
    df = pd.DataFrame({"u": uid, "s": secs}).drop_duplicates(["u", "s"])
    n = len(df)
    out = pd.DataFrame({
        "user_id": np.char.add("u", np.char.zfill(df["u"].to_numpy().astype(str), 6)),
        "ts": T0 + df["s"].to_numpy().astype("timedelta64[s]"),
        "value": np.round(rng.standard_normal(n), 6),
        "event_type": np.where(rng.random(n) < purchase_p, "purchase", "view"),
    })
    out["ts"] = out["ts"].astype("datetime64[us]")
    shares = out["user_id"].value_counts(normalize=True)
    heavy = sorted(shares[shares > 0.02].index.tolist())
    return Generated(
        {"events": out},
        {"heavy_users": heavy,
         "heavy_shares": {u: round(float(shares[u]), 4) for u in heavy}},
    )


def series(seed: int, n_rows: int, n_features: int = 54) -> Generated:
    """One hourly series ``(doc_id, ts, f)`` with ``f`` an array of
    ``n_features`` float32 values per step: a random walk per feature, so
    neighbouring windows differ the way real sensor windows do."""
    rng = np.random.default_rng(seed)
    f = np.cumsum(rng.standard_normal((n_rows, n_features)), axis=0)
    f = (f / np.sqrt(np.arange(1, n_rows + 1))[:, None]).astype(np.float32)
    start = T0 + np.timedelta64(int(rng.integers(0, 365 * 24)), "h")
    out = pd.DataFrame({
        "doc_id": "series",
        "ts": (start + np.arange(n_rows).astype("timedelta64[h]")).astype("datetime64[us]"),
        "f": list(f),
    })
    return Generated({"series": out})


VOCAB = 50257
SOURCES = ("web", "books", "code", "news")


def token_corpus(seed: int, n_rows: int, exact_frac: float = 0.05,
                 near_frac: float = 0.08, short_frac: float = 0.03,
                 min_len: int = 40, max_len: int = 200) -> Generated:
    """Token sequences in the ``input_hint`` schema ``(doc_id, tokens,
    n_tok, source, ts)``. Base sequences are uniform random tokens, so no
    two bases are similar by accident. Planted on top, each on its own
    base: exact copies (``exact_frac``), near copies that differ from
    their base in the last token only (5-gram Jaccard >= 0.9 at these
    lengths), and short rows below ``min_tok`` = 8."""
    rng = np.random.default_rng(seed)
    n_exact = int(n_rows * exact_frac)
    n_near = int(n_rows * near_frac)
    n_short = int(n_rows * short_frac)
    n_base = n_rows - n_exact - n_near - n_short
    lens = rng.integers(min_len, max_len + 1, n_base)
    toks = [rng.integers(0, VOCAB, k).astype(np.int32) for k in lens]
    picks = rng.permutation(n_base)[: n_exact + n_near]
    rows = list(toks)
    for b in picks[:n_exact]:
        rows.append(toks[b].copy())
    for b in picks[n_exact:]:
        t = toks[b].copy()
        t[-1] = (int(t[-1]) + 1 + int(rng.integers(0, VOCAB - 1))) % VOCAB
        rows.append(t)
    for k in rng.integers(1, 8, n_short):
        rows.append(rng.integers(0, VOCAB, k).astype(np.int32))
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    n = len(rows)
    out = pd.DataFrame({
        "doc_id": [f"d{i:07d}" for i in range(n)],
        "tokens": rows,
        "n_tok": np.array([len(r) for r in rows], dtype=np.int32),
        "source": np.array(SOURCES)[rng.integers(0, len(SOURCES), n)],
        "ts": (T0 + (np.arange(n) * 60).astype("timedelta64[s]")).astype("datetime64[us]"),
    })
    # survivors: every base once (its exact and near copies collapse into
    # it; the near copy keeps the base's length, so which one survives
    # does not change any count below), minus rows under min_tok
    return Generated(
        {"tokens": out},
        {"n_input": n, "n_exact": n_exact, "n_near": n_near, "n_short": n_short,
         "near_dup_pairs": n_near, "after_dedup": n_base + n_short,
         "after_filters": n_base, "kept_lens": lens},
    )


def chunk_count(lens: np.ndarray, max_len: int, overlap: int, min_tail: int) -> tuple[int, int]:
    """(chunks, tokens) that fixed-context chunking with ``max_len`` /
    ``overlap`` / ``min_tail`` emits for sequences of the given lengths —
    an independent restatement of ``operators.packing.chunk_tokens``'
    documented rule: chunks start every ``max_len - overlap`` tokens; a
    non-first chunk is kept only if it has at least ``min_tail`` tokens
    and more than ``overlap``."""
    step = max_len - overlap
    chunks = tokens = 0
    for n in lens.tolist():
        for i, s in enumerate(range(0, n, step)):
            k = min(max_len, n - s)
            if i == 0 or (k >= min_tail and k > overlap):
                chunks += 1
                tokens += k
    return chunks, tokens


def stream_batches(seed: int, n_batches: int, batch_size: int,
                   within_frac: float = 0.08, cross_frac: float = 0.1,
                   vocab: int = 5000, min_words: int = 40,
                   max_words: int = 80) -> Generated:
    """Micro-batches of text docs ``(doc_id, text)`` for the ingest loop.
    Each batch holds original docs plus planted duplicates: copies of an
    original doc of the SAME batch (within-batch) and, from the second
    batch on, copies of an original doc of an EARLIER batch
    (cross-batch). Originals are random words, so no two are similar by
    accident; every copy is exact, so its Jaccard with the original is 1."""
    rng = np.random.default_rng(seed)
    n_within = int(batch_size * within_frac)
    n_cross = int(batch_size * cross_frac)
    originals: list[str] = []
    frames, planted = [], []
    for b in range(n_batches):
        cross = n_cross if b > 0 else 0
        n_orig = batch_size - n_within - cross
        texts = [
            " ".join(f"w{w}" for w in rng.integers(0, vocab, rng.integers(min_words, max_words + 1)))
            for _ in range(n_orig)
        ]
        kinds = ["orig"] * n_orig
        src = rng.permutation(n_orig)[:n_within]
        texts += [texts[i] for i in src]
        kinds += ["within"] * n_within
        if cross:
            earlier = rng.permutation(len(originals))[:cross]
            texts += [originals[i] for i in earlier]
            kinds += ["cross"] * cross
        originals.extend(texts[:n_orig])
        order = rng.permutation(len(texts))
        ids = [f"b{b:03d}_{i:05d}" for i in range(len(texts))]
        frames.append(pd.DataFrame({
            "doc_id": ids, "text": [texts[i] for i in order],
        }))
        planted.append({
            "n_input": len(texts), "n_within_dup": n_within,
            "n_index_dup": cross,
            "cross_ids": [ids[j] for j, i in enumerate(order) if kinds[i] == "cross"],
        })
    return Generated(
        {f"batch_{b:03d}": f for b, f in enumerate(frames)},
        {"batches": planted},
    )
