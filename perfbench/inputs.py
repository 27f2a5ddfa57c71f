"""Seeded corpus batches built from the program's public document makers.

``sources.corpus.generate_corpus(seed=...)`` varies only its noise files:
OBO content there is a pure function of the document index. Here the seed
picks which document indices each batch gets (sampled without replacement,
so every document in a run is distinct), each document's term count and
the noise files. The program only ever sees the resulting rows.

Sizing follows the repo's own corpus (FIXTURES.md section 1 and
``generate_corpus``'s defaults: 40 OBO documents, 10 per family, with 4
noise files per OBO document) scaled to a fifth: 2 documents per family and
32 noise files. The full size, 203 rows, is also that of the 211-row
appends of the prototype that motivated this benchmark, but there a batch
takes 13-15 s on a 4-core box and a run near two minutes, which the
benchmark's time budget cannot hold. A batch at a fifth takes about 9 s,
most of it the job's fixed cost. Each batch carries both of FIXTURES.md's
error rows, a truncated OBO file and a non-OBO file labelled OBO, so the
quarantine path runs every batch. Term counts are the makers' defaults,
each jittered by up to 10%, so that documents differ by seed while batches
of different seeds cost about the same.
"""

from __future__ import annotations

import hashlib
import os
import random

from fastobo_py_spark.sources.corpus import (
    make_broken,
    make_go_like,
    make_ms_like,
    make_noise,
    make_pato_like,
    make_plana_like,
)

# family -> (maker, its default terms per document). GO carries the hub
# skew, PATO the equivalence chains.
FAMILIES = {
    "go": (make_go_like, 40),
    "pato": (make_pato_like, 20),
    "ms": (make_ms_like, 50),
    "plana": (make_plana_like, 30),
}
JITTER = 0.1
PER_FAMILY = 2  # OBO documents of each family per batch
NOISE_PER_DOC = 4
_MAX_IX = 1000  # GO/PATO ids embed the index as three digits


class CorpusGen:
    """Deterministic batches: batch ``i`` of seed ``s`` is always the same."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(seed)
        self._order = {f: rng.sample(range(_MAX_IX), _MAX_IX) for f in FAMILIES}

    def batch(self, i: int) -> list[dict]:
        if (i + 1) * PER_FAMILY > _MAX_IX:
            raise ValueError(f"batch {i} exceeds the {_MAX_IX} distinct indices per family")
        rng = random.Random(f"{self.seed}/{i}")
        rows = []
        for fam, (make, terms) in FAMILIES.items():
            for ix in self._order[fam][i * PER_FAMILY:(i + 1) * PER_FAMILY]:
                n = rng.randint(round(terms * (1 - JITTER)), round(terms * (1 + JITTER)))
                rows.append(_row(f"{fam}-{ix}", f"ontologies/{fam}_{ix}.obo", "OBO", make(ix, n_terms=n)))
        rows.append(_row(f"broken-{i}", f"ontologies/broken_{i}.obo", "OBO", make_broken(i)))
        rows.append(_row(f"mislabeled-{i}", f"config/settings_{i}.yaml", "OBO",
                         f"host: example{i}.org\nport: 8080\nretries: 3\n"))
        n_noise = NOISE_PER_DOC * PER_FAMILY * len(FAMILIES)
        for k in range(n_noise):
            ix = i * n_noise + k
            path, lang, content = make_noise(ix, rng)
            rows.append(_row(f"noise-{ix}", path, lang, content))
        return rows


def _row(key: str, path: str, lang: str, content: str) -> dict:
    return {
        "repo": f"bench/{key.split('-')[0]}",
        "path": path,
        "commit": hashlib.sha1(key.encode()).hexdigest(),
        "lang": lang,
        "content": content,
    }


def write_parquet(rows: list[dict], out_dir: str, n_files: int) -> str:
    """One batch as ``n_files`` parquet files (pyarrow, no Spark), so the
    program's scan gets one partition per file like a real corpus table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    cols = ("repo", "path", "commit", "lang", "content")
    for k in range(n_files):
        part = rows[k::n_files]
        if part:
            pq.write_table(pa.table({c: [r[c] for r in part] for c in cols}),
                           os.path.join(out_dir, f"part-{k:03d}.parquet"))
    return out_dir


def obo_bytes(rows: list[dict]) -> int:
    """Bytes of OBO content (lang-tagged OBO rows, broken ones included)."""
    return sum(len(r["content"].encode()) for r in rows if r["lang"] == "OBO")


def size_of(rows: list[dict]) -> dict:
    return {
        "files": len(rows),
        "obo_docs": sum(r["lang"] == "OBO" for r in rows),
        "bytes": sum(len(r["content"].encode()) for r in rows),
    }
