#!/usr/bin/env python3
"""Word-count reducer (wc_reduce.py semantics): the key of a line is the text
before its first TAB; sum the integer values of each run of consecutive equal
keys and print "key count", separated by a space."""
import itertools
import sys


def key(line):
    return line.partition("\t")[0]


out = sys.stdout.buffer
lines = (raw.decode("utf-8").rstrip("\n") for raw in sys.stdin.buffer)
for k, group in itertools.groupby(lines, key):
    total = 0
    for line in group:
        _, sep, value = line.partition("\t")
        total += int(value) if sep else 0
    out.write(f"{k} {total}\n".encode("utf-8"))
