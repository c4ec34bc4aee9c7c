"""One MinHash core as a pinned invariant.

The batch, cross-block, incremental and streaming MinHash paths must
agree on every signature, bucket and pair, and incremental snapshots and
streaming state persist what the hash family made. So each MinHash
decision is written once, in ``operators/dedup.py``, and every path calls
that helper. This test greps the package for the forms a hand-typed copy
would repeat and pins that each lives in exactly that one file: a new
copy elsewhere fails here instead of drifting silently.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "devcontainers_etl_node_spark")

# decision -> regex over source text
FORMS = {
    # block key: NULL block values coalesce into one shared block
    "block-key NULL literal": re.compile(r'"\\x00null"'),
    # seeded hash family: (seed+1) << 48 XOR shingle hash, 32-bit literal
    "seeded-hash shiftleft": re.compile(r"shiftleft\(F\.lit\([^()]*\), 48\)"),
    # est-prune cutoff: ~2.5 sigma below the threshold
    "est-cut formula": re.compile(r"threshold - 2\.5 \* \(threshold \* \(1 - threshold\)"),
}


def _files_with(pattern: re.Pattern) -> set[str]:
    hits = set()
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    if pattern.search(f.read()):
                        hits.add(os.path.relpath(path, PKG))
    return hits


def test_each_minhash_decision_lives_in_dedup_only():
    for name, pattern in FORMS.items():
        assert _files_with(pattern) == {"operators/dedup.py"}, name
