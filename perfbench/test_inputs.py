#!/usr/bin/env python3
"""Determinism test of the benchmark's input generators.

Generates every workload's inputs twice with one seed and once with
another, then checks that the same seed gives byte-identical files and that
the other seed changes each workload's inputs. "Byte-identical" covers each
parquet file up to its footer: the footer lists each column's encodings in
an order the parquet writer does not fix, so it is not compared.

Usage (from the root of a checkout): python3 perfbench/test_inputs.py
"""
import os
import re
import shutil
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

KINDS = ("ladder", "maintain", "dedup", "analytics")


def data_files(root):
    """The bytes before the footer of every parquet data file under root,
    keyed by path with the writer's random file-name component removed."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.startswith("part-") and f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(d, f), root)
                key = re.sub(r"part-(\d+)-[0-9a-f-]{36}", r"part-\1", rel)
                with open(os.path.join(d, f), "rb") as h:
                    b = h.read()
                if b[:4] != b"PAR1" or b[-4:] != b"PAR1":
                    raise ValueError(f"{rel} is not a parquet file")
                footer = struct.unpack("<I", b[-8:-4])[0]
                out[key] = b[:len(b) - 8 - footer]
    return out


def main():
    cp = run.build()
    base = os.path.join(run.WORK, f"test-{os.getpid()}")
    try:
        got = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            work = os.path.join(base, tag)
            run.run_jvm(cp, ["--workload", "gen", "--seed", str(seed)], work, 170)
            got[tag] = {k: data_files(os.path.join(work, "gen", k)) for k in KINDS}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    errors = []
    for k in KINDS:
        a, b, c = got["a"][k], got["b"][k], got["c"][k]
        if not a:
            errors.append(f"{k}: no data files generated")
        if a != b:
            errors.append(f"{k}: seed 7 twice gave different bytes")
        if a == c:
            errors.append(f"{k}: seeds 7 and 8 gave identical inputs")
        print(f"{k}: {len(a)} files, same seed identical={a == b}, other seed differs={a != c}")
    for e in errors:
        print(f"FAIL {e}")
    print("ok" if not errors else f"{len(errors)} failures")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
