"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: no Spark, so generating inputs is
the benchmark's own work and never counts against the program. The
same ``(spec, seed)`` always writes byte-identical parquet files, and
the program under test only ever sees those files. The planted ground
truth (home/work per user, near-duplicate clusters, junk documents)
is returned to the caller for the output checks.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: midnight UTC, a Wednesday (ISO weekday 3)
BASE_EPOCH = 1_700_006_400
_M_PER_DEG = 111_320.0
#: GPS accuracy (metres) the ingest filter drops at or above
ERROR_FILTER_M = 20.0

_STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"]


def _write(table: pa.Table, path: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet parts under ``path``
    with fixed writer settings (byte-identical for identical tables);
    returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            f,
            compression="snappy",
            row_group_size=1 << 20,
        )
        total += os.path.getsize(f)
    return total


# ---------------------------------------------------------------------------
# mobility
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MobilitySpec:
    #: ``(users, mean ping spacing in seconds)`` per cohort
    cohorts: "tuple[tuple[int, float], ...]"
    days: int
    n_files: int = 4


@dataclass
class MobilityTruth:
    #: uid -> (lat, lon) of the planted home / work
    home: dict
    work: dict
    n_pings: int
    n_filtered: int
    input_bytes: int


def _offset(lat, lon, rng, lo_m, hi_m):
    """A point ``lo_m..hi_m`` metres from (lat, lon), random bearing."""
    d = rng.uniform(lo_m, hi_m)
    b = rng.uniform(0, 2 * math.pi)
    dlat = d * math.cos(b) / _M_PER_DEG
    dlon = d * math.sin(b) / (_M_PER_DEG * math.cos(math.radians(lat)))
    return lat + dlat, lon + dlon


def _user_segments(rng, days, home, work, others):
    """One user's timeline as segments ``(t0, (lat0, lon0), (lat1,
    lon1))``: a stay has equal endpoints, a transit leg moves
    between them. Weekdays: home → work (arrive 08:05-08:35, leave
    18:15-18:35) → an evening place (arrive hour 19) → home (arrive
    hour 21). Weekends: a midday outing, home again mid-afternoon."""
    segs = []
    here = home
    segs.append((BASE_EPOCH, home, home))

    def go(t_leave, dest, travel_s):
        nonlocal here
        segs.append((t_leave, here, dest))
        segs.append((t_leave + travel_s, dest, dest))
        here = dest

    for d in range(days):
        day0 = BASE_EPOCH + d * 86400
        iso_wd = (2 + d) % 7 + 1  # day 0 is a Wednesday
        if iso_wd <= 5:
            leave = day0 + 7 * 3600 + 35 * 60 + rng.uniform(0, 1200)
            go(leave, work, 1800 + rng.uniform(0, 600))
            leave = day0 + 18 * 3600 + 15 * 60 + rng.uniform(0, 1200)
            arrive = day0 + 19 * 3600 + rng.uniform(0, 1500)
            go(leave, others[rng.integers(len(others))], arrive - leave)
            leave = day0 + 20 * 3600 + 30 * 60 + rng.uniform(0, 900)
            arrive = day0 + 21 * 3600 + rng.uniform(120, 2400)
            go(leave, home, arrive - leave)
        else:
            leave = day0 + 11 * 3600 + rng.uniform(0, 1800)
            go(leave, others[rng.integers(len(others))], 1500 + rng.uniform(0, 900))
            leave = day0 + 15 * 3600 + rng.uniform(0, 1800)
            go(leave, home, 1500 + rng.uniform(0, 900))
    return segs


def generate_mobility(spec: MobilitySpec, seed: int, path: str) -> MobilityTruth:
    """Vendor-layout pings (``_c0`` uid, ``_c1`` provider, ``_c2``
    lat, ``_c3`` lon, ``_c4`` error m, ``_c5`` epoch s) with planted
    home, work and evening/weekend stays joined by transit legs; ~4%
    of pings form an ``error`` tail above :data:`ERROR_FILTER_M`
    whose positions are displaced by about their error."""
    rng = np.random.default_rng([seed, 1])
    end = BASE_EPOCH + spec.days * 86400
    cols = {k: [] for k in ("uid", "lat", "lon", "err", "ts", "prov")}
    home_t, work_t = {}, {}
    spacing = [sp for n, sp in spec.cohorts for _ in range(n)]
    for u, spacing_s in enumerate(spacing):
        uid = f"u{u:06d}"
        home = (rng.uniform(19.30, 19.50), rng.uniform(-99.25, -99.05))
        work = _offset(*home, rng, 2000, 8000)
        others = [_offset(*home, rng, 1000, 6000) for _ in range(3)]
        home_t[uid], work_t[uid] = home, work
        segs = _user_segments(rng, spec.days, home, work, others)
        starts = np.array([s[0] for s in segs])
        a = np.array([s[1] for s in segs])
        b = np.array([s[2] for s in segs])
        n = int((end - BASE_EPOCH) / spacing_s * 1.05) + 4
        gaps = spacing_s * rng.uniform(0.5, 1.5, n)
        ts = BASE_EPOCH + rng.uniform(0, spacing_s) + np.cumsum(gaps)
        ts = ts[ts < end]
        k = np.searchsorted(starts, ts, side="right") - 1
        seg_end = np.append(starts[1:], end)
        frac = (ts - starts[k]) / (seg_end[k] - starts[k])
        pos = a[k] + (b[k] - a[k]) * frac[:, None]
        m = len(ts)
        bad = rng.random(m) < 0.04
        err = np.where(bad, rng.uniform(25.0, 150.0, m), rng.uniform(3.0, 15.0, m))
        noise_m = np.where(bad, err, 1.5)[:, None] * rng.standard_normal((m, 2))
        lat = pos[:, 0] + noise_m[:, 0] / _M_PER_DEG
        lon = pos[:, 1] + noise_m[:, 1] / (
            _M_PER_DEG * np.cos(np.radians(pos[:, 0]))
        )
        cols["uid"].append(np.full(m, uid, dtype=object))
        cols["lat"].append(lat)
        cols["lon"].append(lon)
        cols["err"].append(np.round(err, 1))
        cols["ts"].append(ts.astype(np.int64))
        cols["prov"].append(rng.integers(0, 4, m).astype(np.int32))
    cat = {k: np.concatenate(v) for k, v in cols.items()}
    table = pa.table(
        {
            "_c0": pa.array(cat["uid"], pa.string()),
            "_c1": pa.array(cat["prov"], pa.int32()),
            "_c2": pa.array(cat["lat"], pa.float64()),
            "_c3": pa.array(cat["lon"], pa.float64()),
            "_c4": pa.array(cat["err"], pa.float64()),
            "_c5": pa.array(cat["ts"], pa.int64()),
        }
    )
    nbytes = _write(table, path, spec.n_files)
    return MobilityTruth(
        home=home_t,
        work=work_t,
        n_pings=table.num_rows,
        n_filtered=int((cat["err"] >= ERROR_FILTER_M).sum()),
        input_bytes=nbytes,
    )


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusSpec:
    #: ``(source, documents, vocabulary size, Zipf exponent of word
    #: ranks)`` per source; an exponent near 0 gives a flat long tail
    sources: "tuple[tuple[str, int, int, float], ...]"
    dup_clusters: int = 0
    junk: int = 0
    chats: int = 0
    n_files: int = 4


@dataclass
class CorpusTruth:
    #: planted near-duplicate clusters: (head id, [copy ids])
    clusters: list
    #: doc ids of planted junk (keyword stuffing, spam, symbol soup)
    junk: set
    #: doc ids that are neither
    clean: set
    n_docs: int
    input_bytes: int


def _vocabulary(rng, n: int) -> np.ndarray:
    """``n`` distinct pseudo-words of 2-11 lowercase letters, 2% of
    them ending in an accented letter so byte-level paths see UTF-8."""
    m = int(n * 1.2) + 64
    codes = rng.integers(97, 123, size=(m, 11), dtype=np.uint8)
    lens = rng.integers(2, 12, m)
    codes[np.arange(11)[None, :] >= lens[:, None]] = 0
    raw = codes.view("S11").ravel().astype(str).astype(object)
    accent = rng.random(m) < 0.02
    raw[accent] = [w[:-1] + "\u00e9" for w in raw[accent]]
    _, first = np.unique(raw, return_index=True)
    words = raw[np.sort(first)]
    words = words[~np.isin(words, _STOPWORDS)]
    if len(words) < n:
        raise ValueError(f"vocabulary too small: {len(words)} < {n}")
    return words[:n]


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(p / p.sum())


def _prose(rng, vocab, cdf, n_words: int) -> str:
    """Sentences of 6-16 words, ~1 in 6 words a stopword, capitalised
    starts, full stops, a line break every fourth sentence."""
    idx = np.minimum(np.searchsorted(cdf, rng.random(n_words)), len(vocab) - 1)
    draws = vocab[idx]
    stops = rng.random(n_words) < 0.17
    draws[stops] = rng.choice(_STOPWORDS, int(stops.sum()))
    out, i, sent = [], 0, 0
    while i < n_words:
        ln = int(rng.integers(6, 17))
        s = list(draws[i:i + ln])
        i += ln
        s[0] = s[0].capitalize()
        sent += 1
        out.append(" ".join(s) + ("." if sent % 4 else ".\n"))
    return " ".join(out).replace("\n ", "\n").strip()


def _near_copy(rng, text: str, vocab) -> str:
    """One or two single-word substitutions (word 3-shingle Jaccard
    stays ~0.9 or above)."""
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 3))):
        j = int(rng.integers(1, len(words) - 1))
        words[j] = str(vocab[rng.integers(len(vocab))])
    return " ".join(words)


def _junk(rng, vocab, kind: int) -> str:
    if kind == 0:  # keyword stuffing: fails the entropy gate
        w = " ".join(vocab[rng.integers(len(vocab), size=2)])
        return " ".join([w] * 60)
    if kind == 1:  # spam: what the classifier is trained to drop
        return spam_text(rng, vocab)
    # symbol soup: fails Gopher's symbol ratio and alpha fraction
    return " ".join(["### 123 ..."] * 40)


def spam_text(rng, vocab) -> str:
    markers = ["buy", "cheap", "click", "free", "winner", "casino", "pills", "now"]
    words = list(rng.choice(markers, 50)) + list(vocab[rng.integers(len(vocab), size=25)])
    words += ["the", "and", "of", "to"]
    rng.shuffle(words)
    return " ".join(str(w) for w in words) + "!!!"


def classifier_training_table(seed: int, n: int = 400) -> pa.Table:
    """Labelled frame for the quality classifier: clean prose (1)
    against spam (0), from the same vocabulary family as the corpus."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 2000)
    cdf = _zipf_cdf(len(vocab), 1.0)
    texts, labels = [], []
    for i in range(n):
        if i % 2:
            texts.append(_prose(rng, vocab, cdf, int(rng.integers(60, 160))))
            labels.append(1)
        else:
            texts.append(spam_text(rng, vocab))
            labels.append(0)
    return pa.table({"text": texts, "label": pa.array(labels, pa.int32())})


def generate_corpus(spec: CorpusSpec, seed: int, path: str, chat_path: str | None = None) -> CorpusTruth:
    """``doc_id`` (long), ``source`` and ``text`` documents: clean
    prose that passes Gopher (stopwords, word lengths), planted
    near-duplicate clusters (a head plus 1-3 single-word-edit
    copies), and planted junk. ``chat_path`` also gets a
    ``messages`` ``array<struct<role,content>>`` chat frame."""
    rng = np.random.default_rng([seed, 2])
    texts: "list[str]" = []
    src: "list[str]" = []
    for name, n, n_vocab, zipf in spec.sources:
        vocab = _vocabulary(rng, n_vocab)
        cdf = _zipf_cdf(n_vocab, zipf)
        texts += [_prose(rng, vocab, cdf, int(rng.integers(60, 200))) for _ in range(n)]
        src += [name] * n
    # the last source's vocabulary also feeds the edits, junk and chats
    groups: "list[tuple[int, list[int]]]" = []
    heads = rng.choice(len(texts), spec.dup_clusters, replace=False)
    for h in heads:
        copies = []
        for _ in range(int(rng.integers(1, 4))):
            copies.append(len(texts))
            texts.append(_near_copy(rng, texts[h], vocab))
            src.append(src[h])
        groups.append((int(h), copies))
    junk_idx = list(range(len(texts), len(texts) + spec.junk))
    texts += [_junk(rng, vocab, i % 3) for i in range(spec.junk)]
    src += ["web"] * spec.junk
    # ids are a seeded permutation, so duplicates and junk are not
    # clustered at the end of the id range
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "source": pa.array(np.array(src, dtype=object)[order], pa.string()),
            "text": pa.array(np.array(texts, dtype=object)[order], pa.string()),
        }
    )
    nbytes = _write(table, path, spec.n_files)
    if chat_path is not None:
        chats = []
        for _ in range(spec.chats):
            turns = [
                {"role": "system", "content": "You are a helpful assistant."},
                {"role": "user", "content": _prose(rng, vocab, cdf, int(rng.integers(8, 30)))},
                {"role": "assistant", "content": _prose(rng, vocab, cdf, int(rng.integers(20, 80)))},
            ]
            chats.append(turns)
        msg_t = pa.list_(pa.struct([("role", pa.string()), ("content", pa.string())]))
        chat = pa.table(
            {
                "doc_id": pa.array(np.arange(1, spec.chats + 1), pa.int64()),
                "messages": pa.array(chats, msg_t),
            }
        )
        nbytes += _write(chat, chat_path, spec.n_files)
    clusters = [(int(ids[h]), [int(ids[c]) for c in cs]) for h, cs in groups]
    junk = {int(ids[i]) for i in junk_idx}
    in_cluster = {i for h, cs in clusters for i in [h, *cs]}
    clean = {int(i) for i in ids} - in_cluster - junk
    return CorpusTruth(
        clusters=clusters, junk=junk, clean=clean, n_docs=len(texts), input_bytes=nbytes
    )
