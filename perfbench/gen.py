"""Seeded input generators and output oracles for the benchmark.

Everything here is a pure function of the seed: the same seed gives the same
bytes. Nothing here imports or calls the engine, so the oracles are
independent of the code they check.

- ``wordcount_corpus``: text files over a Zipf vocabulary, with empty keys,
  ``[``/``]`` and tab separators, upper-case and non-ASCII words (including
  words whose UTF-8 byte order differs from their UTF-16 order) and a few
  very long lines.
- ``grep_corpus``: one large text file in which about 5% of lines contain
  the grep pattern.
- ``query_tables``: ``documents`` and ``events`` parquet tables with the
  column types and the measured shapes of the engine's sf0.1 test tables
  (TESTDATA.md), at a fraction of their row counts.
- ``wordcount_expected`` / ``grep_expected``: the exact part files a
  correct engine writes, from Python's own md5, unsigned-byte sort and
  tokenizer.
"""
import hashlib
import os
import re

import numpy as np

GREP_PATTERN = "product"

# Words whose unsigned-UTF-8 order differs from Java's UTF-16 order: U+FF21
# (fullwidth A, UTF-8 EF BC A1) sorts BEFORE U+1D49C (math script A, UTF-8
# F0 9D 92 9C) by bytes, but AFTER it by UTF-16 code units (FF21 > D835).
_SPECIAL = [
    "ＡＢ", "\U0001d49c\U0001d49d", "ａx", "\U0001d4b6y",
    "über", "Über", "ÄRGER", "ärger", "naïve", "École", "école", "straße",
    "日本", "データ", "señor", "Señor", "café", "CAFÉ", "Spark", "SPARK",
    "MapReduce", "HADOOP", "Hello", "WORLD", "z", "é", "Z",
]
_SYLLABLES = ("ka ri to na me su lo pe vi da ko ru shi ne ma ta po gu be fi "
              "an el in or um ex al on ar ix").split()


def _vocabulary(rng, n_words):
    """n_words distinct lower-case ASCII words plus the special words. The
    corpora draw it from a fixed stream, so every seed has the same key
    space and only the token sequence changes."""
    words, seen = [], set()
    while len(words) < n_words:
        w = "".join(rng.choice(_SYLLABLES, size=int(rng.integers(1, 4))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words + _SPECIAL


def _zipf_probs(n, s=1.1):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _render(rng, vocab, probs, n_tokens, seps, sep_probs):
    """Token stream as bytes: each sampled word is followed by one separator
    byte. Vectorised over tokens, looping only over word length."""
    enc = [w.encode("utf-8") for w in vocab]
    vlen = np.array([len(e) for e in enc], dtype=np.int64)
    voff = np.concatenate(([0], np.cumsum(vlen)[:-1]))
    vbuf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    ids = rng.choice(len(vocab), size=n_tokens, p=probs)
    sep = rng.choice(len(seps), size=n_tokens, p=sep_probs)
    lens = vlen[ids] + 1
    ends = np.cumsum(lens)
    starts = ends - lens
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    wl, wo = vlen[ids], voff[ids]
    for j in range(int(vlen.max())):
        m = wl > j
        out[starts[m] + j] = vbuf[wo[m] + j]
    out[ends - 1] = np.frombuffer(seps, dtype=np.uint8)[sep]
    return out.tobytes()


def _text(rng, vocab, probs, n_bytes, seps, sep_probs):
    """Newline-terminated text of at most n_bytes, cut at the last line end
    (token lengths vary by seed; the byte count should not)."""
    data = _render(rng, vocab, probs, n_bytes // 5, seps, sep_probs)
    if len(data) < n_bytes:
        raise ValueError("token stream shorter than the requested size")
    return data[:data.rindex(b"\n", 0, n_bytes) + 1]


def _long_line(rng, vocab, n_bytes):
    ids = rng.integers(0, len(vocab), size=n_bytes // 6)
    return (" ".join(vocab[i] for i in ids))[:n_bytes].encode("utf-8") + b"\n"


def wordcount_corpus(seed, out_dir, total_bytes, n_files):
    """n_files text files of about total_bytes in all, for the word count."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocabulary(np.random.default_rng(0), 4000)
    probs = _zipf_probs(len(vocab))
    # Separators: space, tab, '[', ']', newline. Two separators in a row
    # (and blank lines) make empty keys.
    seps = b" \t[]\n"
    sep_probs = [0.83, 0.02, 0.01, 0.01, 0.13]
    for i in range(n_files):
        rng = np.random.default_rng([seed, 1, i])
        data = _text(rng, vocab, probs, total_bytes // n_files, seps, sep_probs)
        with open(os.path.join(out_dir, f"file{i:02d}"), "wb") as f:
            f.write(data)
            if i == 0:
                for k in range(3):
                    f.write(_long_line(rng, vocab, 64 * 1024 * (k + 1)))


def grep_corpus(seed, out_dir, total_bytes):
    """One text file; about 5% of its lines contain GREP_PATTERN in some case."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(np.random.default_rng(0), 4000)
    hits = ["product", "Product", "PRODUCTS", "byproduct", "productivité"]
    q = 0.0045  # per-word share of pattern words: 1-(1-q)^12 ≈ 5% of lines
    probs = np.concatenate((_zipf_probs(len(vocab)) * (1 - q), np.full(len(hits), q / len(hits))))
    seps = b" \t\n"
    sep_probs = [0.912, 0.005, 0.083]
    data = _text(rng, vocab + hits, probs, total_bytes, seps, sep_probs)
    with open(os.path.join(out_dir, "input.txt"), "wb") as f:
        f.write(data)
        f.write(_long_line(rng, vocab + hits, 256 * 1024))


def _md5_mod(key, r):
    return int.from_bytes(hashlib.md5(key).digest(), "big") % r


_WC_SPLIT = re.compile(rb"[\[\] \t]")


def wordcount_expected(in_dir, num_reducers):
    """Part files of the wc_map.sh/wc_reduce.sh job (Native twins): split on
    '[', ']', space and tab keeping empty segments, lower-case, count, route
    by md5(key) mod R, and sort each part by unsigned bytes of 'key<TAB>'."""
    counts = {}
    for name in sorted(os.listdir(in_dir)):
        with open(os.path.join(in_dir, name), "rb") as f:
            for line in f.read().split(b"\n")[:-1]:
                for seg in _WC_SPLIT.split(line):
                    counts[seg] = counts.get(seg, 0) + 1
    merged = {}
    for seg, n in counts.items():
        key = seg.decode("utf-8").lower().encode("utf-8")
        merged[key] = merged.get(key, 0) + n
    return _parts(merged, num_reducers, b"\t")


def wordcount_py_expected(lines, num_reducers):
    """wc_map.py/wc_reduce.py semantics (whitespace split, no lower-casing,
    space-separated output): the reference's input_small sample run."""
    counts = {}
    for line in lines:
        for w in line.split():
            counts[w] = counts.get(w, 0) + 1
    return _parts(counts, num_reducers, b" ")


def _parts(counts, num_reducers, sep):
    parts = [[] for _ in range(num_reducers)]
    for key in sorted(counts, key=lambda k: k + b"\t"):
        parts[_md5_mod(key, num_reducers)].append(key + sep + str(counts[key]).encode() + b"\n")
    return [b"".join(p) for p in parts]


def grep_expected(in_dir):
    """Single part file of the grep job: stripped non-blank lines containing
    the pattern (case-insensitive) and no inner tab, unsigned-byte sorted."""
    keep = []
    pat = GREP_PATTERN
    for name in sorted(os.listdir(in_dir)):
        with open(os.path.join(in_dir, name), "rb") as f:
            for raw in f.read().split(b"\n")[:-1]:
                line = raw.decode("utf-8").strip()
                if line and pat in line.lower() and "\t" not in line:
                    keep.append(line.encode("utf-8"))
    keep.sort()
    return [b"".join(l + b"\n" for l in keep)]


def write_parts(parts, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for i, p in enumerate(parts):
        with open(os.path.join(out_dir, f"part-{i:05d}"), "wb") as f:
            f.write(p)


# ---------------------------------------------------------------- tables

# The query tables model the engine's sf0.1 test tables (TESTDATA.md), at a
# fraction of their row counts. Every shape parameter below was measured on
# those tables (5,000 documents, 100,000 events):
#   documents  10-100 words a doc, uniform (mean 54.1); words uniform over
#              the 30-word vocabulary below; 5% of docs are near-duplicates,
#              the text of another doc (itself possibly one) with " dup"
#              appended, placed anywhere in doc_id order (255 "dup" tokens,
#              233 components of 2-4 docs, 8 exact repeats); lang shares
#              en .412, zh .151, es .149, fr .148, de .140; source is
#              src<doc_id mod 20>; n_chars is the text's length.
#   events     user_id uniform over 1,500 users (66.7 events a user); ts
#              uniform over 30 days from 2024-01-01 and ascending in
#              event_id (mean gap 25.9 s); event_type uniform over five;
#              value exponential with mean 50, rounded to cents (measured
#              mean 49.9, median 34.8); props '{"k": K}', K uniform 0-99.
# Scaling users with events keeps each user's event density, so the 30-min
# session gaps (4.5% of events within 30 min of the user's previous one)
# keep their share.
SF01_ROWS = {"documents": 5000, "events": 100000, "users": 1500}
_DOC_WORDS = ("batch part spark line column order small sort fast value scan a "
              "hash slow group agg filter query big key window row table stream "
              "merge data the vector join customer").split()
_DUP_SHARE = 0.05
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
QUERY_TABLES = ("documents", "events")


def query_tables(seed, out_dir, frac):
    """The parquet tables the query mix reads: the sf0.1 tables' shapes
    (above) at ``frac`` of their row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_docs = round(SF01_ROWS["documents"] * frac)
    n_events = round(SF01_ROWS["events"] * frac)
    n_users = round(SF01_ROWS["users"] * frac)

    words = np.array(_DOC_WORDS)
    n_dup = round(n_docs * _DUP_SHARE)
    texts = [" ".join(rng.choice(words, size=int(rng.integers(10, 101))))
             for _ in range(n_docs - n_dup)]
    for _ in range(n_dup):
        texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
    texts = [texts[i] for i in rng.permutation(n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=n_docs, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    t0 = 1704067200 * 1_000_000  # 2024-01-01 UTC, in microseconds
    ts = np.sort(rng.integers(t0, t0 + 30 * 86400 * 1_000_000, size=n_events))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n_events), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)], pa.string()),
    }), os.path.join(out_dir, "events.parquet"))
