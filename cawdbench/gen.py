"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files, a different seed different ones. Each also returns the
truth it planted, so the benchmark can check the program's outputs against
what the inputs were built to contain.

Document text is generated already normalized (lowercase ``[a-z]`` words
joined by single spaces), so the program's normalization leaves it unchanged
and the checks can recompute exact-text signatures without Spark.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.orc as orc
import pyarrow.parquet as pq

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

#: ORC stripe size and parquet row-group size, fixed so that a generation
#: written in append layout reproduces its predecessor's stripes / row groups
#: byte for byte (the program's own fixture convention).
ORC_STRIPE_BYTES = 64 * 1024
PARQUET_ROW_GROUP_ROWS = 2000

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


def vocabulary(rng: random.Random, n_words: int) -> list[str]:
    """``n_words`` distinct pseudo-words of 2-4 syllables."""
    words: set[str] = set()
    while len(words) < n_words:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _perturb(rng: random.Random, toks: list[str], vocab: list[str], n_edits: int) -> list[str]:
    out = list(toks)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def _doc_row(doc_id: int, toks: list[str], rng: random.Random) -> dict:
    text = " ".join(toks)
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": rng.choice(["en", "de", "fr"]),
        "source": f"src{rng.randrange(8)}",
        "n_chars": len(text),
    }


def _docs_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=DOC_SCHEMA)


# ---------------------------------------------------------------------------
# corpus_near_dup
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    path: str  # directory holding documents.parquet
    n_docs: int
    n_bytes: int
    planted_pairs: set[tuple[int, int]]  # (lower id, higher id) near-dups
    exact_dup_docs: int  # docs whose text equals an earlier doc's


def make_corpus(
    seed: int, out_dir: str, n_docs: int, doc_tokens: tuple[int, int] = (12, 28)
) -> Corpus:
    """A documents table of ``n_docs`` rows: independent random texts, plus
    planted near-duplicates (a few token edits of an earlier doc, sometimes
    chained into 3-doc clusters) and exact copies."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, 8000)
    rows: list[dict] = []
    toks_of: list[list[str]] = []
    planted: set[tuple[int, int]] = set()
    exact = 0
    for doc_id in range(n_docs):
        roll = rng.random()
        if doc_id >= 100 and roll < 0.04:
            src = rng.randrange(doc_id)
            toks = list(toks_of[src])
            exact += 1
        elif doc_id >= 100 and roll < 0.14:
            src = rng.randrange(doc_id)
            toks = _perturb(rng, toks_of[src], vocab, max(1, len(toks_of[src]) // 30))
            planted.add((src, doc_id))
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(*doc_tokens))]
        toks_of.append(toks)
        rows.append(_doc_row(doc_id, toks, rng))
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(_docs_table(rows), path)
    return Corpus(out_dir, n_docs, os.path.getsize(path), planted, exact)


# ---------------------------------------------------------------------------
# snapshot_sync
# ---------------------------------------------------------------------------

@dataclass
class Generation:
    path: str  # directory holding this generation's .orc and .parquet files
    files: dict[str, int]  # file name -> size in bytes
    modified_column: str
    new_file: str | None  # name of the brand-new file, if this generation has one
    stripes: int  # ORC stripes of ``result.orc``
    shared_stripes: int  # of those, stripes whose rows equal the previous generation's

    @property
    def n_bytes(self) -> int:
        return sum(self.files.values())


_RESULT_COLUMNS = ("item", "store", "qty", "price", "discount", "channel", "state", "note")


def _result_rows(rng: random.Random, start_key: int, n: int) -> dict[str, list]:
    """Rows of a synthetic query-result table, keyed from ``start_key``."""
    keys = range(start_key, start_key + n)
    return {
        "key": list(keys),
        "item": [rng.randrange(200_000) for _ in keys],
        "store": [rng.randrange(400) for _ in keys],
        "qty": [rng.randrange(1, 100) for _ in keys],
        "price": [round(rng.uniform(1, 500), 2) for _ in keys],
        "discount": [round(rng.random() * 0.3, 2) for _ in keys],
        "channel": [rng.choice(("web", "store", "catalog")) for _ in keys],
        "state": [rng.choice(("CA", "TX", "NY", "WA", "OR", "GA")) for _ in keys],
        "note": ["".join(rng.choice("abcdefghij") for _ in range(12)) for _ in keys],
    }


def _write_both(table: pa.Table, stem: str) -> None:
    orc.write_table(table, stem + ".orc", stripe_size=ORC_STRIPE_BYTES)
    pq.write_table(
        table, stem + ".parquet", row_group_size=PARQUET_ROW_GROUP_ROWS,
        use_dictionary=False,
    )


def make_snapshots(
    seed: int, out_dir: str, n_gens: int, base_rows: int, growth_rows: int
) -> list[Generation]:
    """``n_gens`` consecutive snapshots of one query result, each in ORC and
    Parquet. Generation g holds:

    - ``result``: generation g-1's rows plus ``growth_rows`` appended rows,
      in append layout, so all but the last stripe / row group of the
      previous generation recur byte for byte;
    - ``result_mod``: the same rows with one column rewritten (which column
      rotates with the generation, the same for every seed), so its stripes
      miss and only that column's subchunks should fail to dedup at column
      level;
    - every third generation, a brand-new file whose content no generation
      shares.

    Each generation's directory has a basename unique to the seed and the
    generation, so no cache keyed by basename can serve a previous
    generation's files. The planted truth per generation is the number of
    ``result.orc`` stripes whose rows equal the previous generation's stripe
    at the same position, read back through pyarrow, independently of the
    program's chunker.
    """
    rng = random.Random(seed * 7919 + 1)
    cols = _result_rows(rng, 0, base_rows)
    gens: list[Generation] = []
    prev: orc.ORCFile | None = None
    for g in range(n_gens):
        if g:
            extra = _result_rows(rng, len(cols["key"]), growth_rows)
            for c in cols:
                cols[c] = cols[c] + extra[c]
        gdir = os.path.join(out_dir, f"snap-s{seed}-g{g:03d}")
        os.makedirs(gdir, exist_ok=True)
        table = pa.table(cols)
        _write_both(table, os.path.join(gdir, "result"))
        cur = orc.ORCFile(os.path.join(gdir, "result.orc"))
        shared = 0
        if prev is not None:
            shared = sum(
                cur.read_stripe(i).equals(prev.read_stripe(i))
                for i in range(min(cur.nstripes, prev.nstripes))
            )
        mod_col = _RESULT_COLUMNS[g % len(_RESULT_COLUMNS)]
        mod = table.column(mod_col)
        if pa.types.is_string(mod.type):
            new = pa.array([s[::-1] for s in mod.to_pylist()])
        elif pa.types.is_floating(mod.type):
            new = pa.array([round(x + 0.5, 2) for x in mod.to_pylist()])
        else:
            new = pa.array([x + 7 for x in mod.to_pylist()], type=mod.type)
        _write_both(
            table.set_column(table.schema.get_field_index(mod_col), mod_col, new),
            os.path.join(gdir, "result_mod"),
        )
        new_file = None
        if g % 3 == 2:
            fresh = _result_rows(random.Random(seed * 131 + g), 10_000_000 * (g + 1), base_rows // 4)
            new_file = f"fresh_g{g:03d}"
            _write_both(pa.table(fresh), os.path.join(gdir, new_file))
        files = {n: os.path.getsize(os.path.join(gdir, n)) for n in sorted(os.listdir(gdir))}
        gens.append(Generation(gdir, files, mod_col, new_file, cur.nstripes, shared))
        prev = cur
    return gens
