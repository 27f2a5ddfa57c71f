"""Expected answers from the pure-Python oracle (``fastobo_py_spark.oracle``).

Documents are distinct across batches and the oracle works per document,
so the expected table state after any set of batches is the union of the
per-batch answers.
"""

from __future__ import annotations

import random
from collections import defaultdict

from fastobo_py_spark import oracle
from fastobo_py_spark.obo.parser import CLAUSE_FIELDS

_FID = 3 + CLAUSE_FIELDS.index("frame_id")
MAX_DEPTH = 25  # ancestors_of's default walk depth


class Expected:
    """Oracle answers per committed batch."""

    def __init__(self):
        self.edges: dict[int, set] = {}
        self.nodes: dict[int, set] = {}

    def add(self, batch: int, rows: list[dict]) -> None:
        self.edges[batch] = oracle.edge_key_set(oracle.build_edges(rows))
        clauses, _ = oracle.parse_rows(rows)
        self.nodes[batch] = {(c[0], c[_FID]) for c in clauses if c[3] != "Header" and c[_FID]}

    def edge_keys(self, batches=None) -> set:
        return set().union(*(self.edges[b] for b in (batches if batches is not None else self.edges)))

    def node_keys(self) -> set:
        return set().union(*self.nodes.values())

    def pick_seeds(self, seed: int, k: int = 8, height: int = 3) -> list[tuple[str, str]]:
        """k (doc_sha, id) terms whose farthest ancestor is ``height`` is_a
        steps away, chosen by the seed. A fixed height fixes the number of
        rounds the ancestor walk makes, whichever terms are drawn."""
        up = self._parents()
        cands = sorted(t for t in up if max((x[3] for x in self.ancestors([t], up)), default=0) == height)
        if not cands:
            raise ValueError(f"no term with an is_a height of {height}")
        return random.Random(f"{seed}/seeds").sample(cands, min(k, len(cands)))

    def _parents(self) -> dict:
        up = defaultdict(set)
        for s, p, o, d in self.edge_keys():
            if p == "is_a" and s != o:
                up[(d, s)].add(o)
        return up

    def ancestors(self, seeds, up=None) -> set:
        """(doc_sha, id, ancestor, min_depth) by breadth-first walk of is_a."""
        up = up if up is not None else self._parents()
        out = set()
        for d, sid in seeds:
            seen, frontier = set(), {sid}
            for depth in range(1, MAX_DEPTH + 1):
                nxt = {a for x in frontier for a in up.get((d, x), ())} - seen - {sid}
                if not nxt:
                    break
                out |= {(d, sid, a, depth) for a in nxt}
                seen |= nxt
                frontier = nxt
        return out


def mismatches(got_rows: list, want: set) -> int:
    """Rows missing, extra, or duplicated in ``got_rows`` against ``want``."""
    got = set(got_rows)
    return len(got ^ want) + (len(got_rows) - len(got))
