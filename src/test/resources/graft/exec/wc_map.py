#!/usr/bin/env python3
"""Word-count mapper (wc_map.py semantics): split each line with str.split(),
on runs of whitespace with no empty words and no case folding, and emit
"word<TAB>1" for every word."""
import sys

out = sys.stdout.buffer
for raw in sys.stdin.buffer:
    for word in raw.decode("utf-8").split():
        out.write(word.encode("utf-8") + b"\t1\n")
