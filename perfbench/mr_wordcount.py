"""Word count for the MapReduce workload, in both forms the engine runs.

- As Python callables (``map_words``, ``reduce_sum``) for the
  ``MapReduceJob`` callable path.  Spark pickles them by module reference,
  so Python workers need this directory on ``PYTHONPATH``.
- As an executable for the ``RDD.pipe`` path:
  ``python3 mr_wordcount.py map`` and ``python3 mr_wordcount.py reduce``
  speak the line protocol on stdin/stdout.
"""

from __future__ import annotations

import sys
from itertools import groupby


def map_words(line: str):
    return (f"{w}\t1" for w in line.split())


def reduce_sum(key: str, values):
    return [f"{key}\t{sum(int(v) for v in values)}"]


def _main(role: str) -> None:
    out = sys.stdout
    if role == "map":
        for line in sys.stdin:
            for w in line.split():
                out.write(f"{w}\t1\n")
        return
    rows = (line.rstrip("\n").split("\t", 1) for line in sys.stdin)
    for key, group in groupby(rows, key=lambda kv: kv[0]):
        out.write(f"{key}\t{sum(int(v) for _, v in group)}\n")


if __name__ == "__main__":
    _main(sys.argv[1])
