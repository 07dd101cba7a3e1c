#!/usr/bin/env python3
"""Grep reducer (grep_reduce.py semantics): strip each "key<TAB>value" line,
keep only lines with exactly two TAB-separated fields, print the value."""
import sys

out = sys.stdout.buffer
for raw in sys.stdin.buffer:
    parts = raw.decode("utf-8").strip().split("\t")
    if len(parts) == 2:
        out.write(parts[1].encode("utf-8") + b"\n")
