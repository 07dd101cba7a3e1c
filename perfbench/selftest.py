#!/usr/bin/env python3
"""Self-tests of the benchmark's own parts (no engine, no JVM).

    python3 perfbench/selftest.py

- The MR oracle reproduces the reference's known input_small answer
  (wc_map.py/wc_reduce.py, R=3) and its R=2 md5 routing goldens.
- The generators are deterministic: the same seed gives the same bytes, and
  another seed gives other bytes.
- Every metric run.py emits has a name and a unit, and the names and units
  match BENCHMARK.json at the checkout root.
"""
import hashlib
import json
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402
import run  # noqa: E402


def test_input_small():
    lines = [b"hello world", b"hello eecs485", b"goodbye autograder", b"hello autograder"]
    assert gen.wordcount_py_expected(lines, 3) == [
        b"eecs485 1\ngoodbye 1\n", b"autograder 2\nhello 3\n", b"world 1\n"]
    # Reference goldens at R=2: "", bye, hello -> part 0; world, goodbye, hadoop -> part 1.
    assert [gen._md5_mod(k, 2) for k in (b"", b"bye", b"hello")] == [0, 0, 0]
    assert [gen._md5_mod(k, 2) for k in (b"world", b"goodbye", b"hadoop")] == [1, 1, 1]


def test_wordcount_oracle_semantics():
    with tempfile.TemporaryDirectory() as d:
        Path(d, "f").write_bytes(b"Hello [world]\tHELLO  \n\n\xc3\x9cber \xc3\xbcber\n")
        parts = gen.wordcount_expected(d, 1)
    # Empty segments are keys; upper case folds; bytes sort unsigned.
    assert parts == [b"\t5\nhello\t2\nworld\t1\n\xc3\xbcber\t2\n"]


def test_unsigned_byte_order():
    # U+FF21 sorts before U+1D49C by UTF-8 bytes but after it in UTF-16.
    a, b = "Ａ".encode(), "\U0001d49c".encode()
    assert sorted([b, a]) == [a, b]


def digest(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*")):
        if p.is_file():
            h.update(p.name.encode() + p.read_bytes())
    return h.hexdigest()


def test_generators_deterministic():
    def make(seed):
        d = tempfile.mkdtemp()
        gen.wordcount_corpus(seed, f"{d}/wc", 256 * 1024, 3)
        gen.grep_corpus(seed, f"{d}/grep", 256 * 1024)
        gen.query_tables(seed, f"{d}/q", 0.01)
        return {k: digest(f"{d}/{k}") for k in ("wc", "grep", "q")}
    a, b, c = make(7), make(7), make(8)
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_query_tables_shape():
    # The measured sf0.1 shapes (gen.py) hold at a fraction of the rows.
    import pyarrow.parquet as pq
    with tempfile.TemporaryDirectory() as d:
        gen.query_tables(3, d, 0.2)
        docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
        ev = pq.read_table(f"{d}/events.parquet").to_pydict()
    words = [t.split(" ") for t in docs["text"]]
    assert len(words) == 1000 and len(ev["event_id"]) == 20000
    assert all(10 <= len(w) - w.count("dup") <= 100 for w in words)
    assert sum("dup" in w for w in words) == 50
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert len(set(ev["user_id"])) == 300 and ev["ts"] == sorted(ev["ts"])
    assert 45 < sum(ev["value"]) / len(ev["value"]) < 55


def test_metric_names_match_benchmark_json():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert all(n and u for n, u in {**e2e, **layer}.items())


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} passed")
