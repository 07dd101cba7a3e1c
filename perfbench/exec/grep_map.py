#!/usr/bin/env python3
"""Grep mapper (grep_map.py semantics): strip each line, drop blank lines,
and emit "1<TAB>line" when the pattern occurs in the lower-cased line.
Usage: grep_map.py [pattern]   (default "product")."""
import sys

pattern = sys.argv[1] if len(sys.argv) > 1 else "product"
out = sys.stdout.buffer
for raw in sys.stdin.buffer:
    line = raw.decode("utf-8").strip()
    if line and pattern in line.lower():
        out.write(b"1\t" + line.encode("utf-8") + b"\n")
