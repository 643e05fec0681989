#!/usr/bin/env python
r"""Build the BPE golden fixtures for the DuckDB oracles — with an
INDEPENDENT pure-Python implementation (no Spark, no imports from
hpctoolkit_dataframe_spark), the same pattern as make_ingest_fixture.py:
the oracle's truth must not be the Spark engine's own output.

Emits two parquet files under tests/fixtures/:

- ``bpe_train_golden.parquet`` — the 48-merge Sennrich table per
  testdata scale factor, keyed by (corpus_rows, corpus_chars) so one
  static oracle SQL string selects the right golden for whatever sf_dir
  the gate runs (sf0.001 and sf0.01 both hold 500 docs — row count
  alone cannot discriminate, total text length can).
- ``bpe_encode_golden.parquet`` — per-doc BPE token count + md5 token
  stream digest under the merges trained on that same corpus.

Algorithm contract being twinned (queries/bpe.py): training tokenizes
with the regex whitespace split (Spark ``F.split(text, '\s+')`` minus
empties), caps the vocabulary at the top 50 000 words by (count desc,
word asc), runs 48 merges picking (max pair count, then
lexicographically smallest pair); encoding pre-tokenizes with the SAME
ASCII-whitespace split and repeatedly merges the lowest-rank adjacent
pair (one tokenization rule for train and encode, matching the Java/
RE2 ASCII `\s` both engines use).
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXDIR = os.path.join(REPO, "tests", "fixtures")
END_OF_WORD = "</w>"
N_MERGES = 48
VOCAB_CAP = 50_000
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
           "/root/testdata/sf0.1"]

# re.ASCII: Java regex \s and DuckDB RE2 \s are ASCII-only, while
# Python's default \s is unicode-aware — the adversarial-text probe
# caught the fixture splitting on NBSP/thin-space where both engines
# do not.  ONE tokenization rule everywhere: ASCII \s.
_WS = re.compile(r"\s+", re.ASCII)


def train_word_counts(texts: list[str]) -> dict[str, int]:
    counts: dict[str, int] = {}
    for t in texts:
        if t is None:
            continue
        for w in _WS.split(t):
            if w:
                counts[w] = counts.get(w, 0) + 1
    return counts


def train(counts: dict[str, int]) -> list[tuple]:
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_CAP]
    vocab: dict[tuple, int] = {}
    for w, c in top:
        k = tuple(w) + (END_OF_WORD,)
        vocab[k] = vocab.get(k, 0) + c
    merges: list[tuple] = []
    for rank in range(N_MERGES):
        pairs: dict[tuple, int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = max(pairs.values())
        a, b = min(p for p, n in pairs.items() if n == best)
        merges.append((rank, a, b, a + b, best))
        nxt: dict[tuple, int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            nxt[k] = nxt.get(k, 0) + c
        vocab = nxt
    return merges


def encode_word(word: str, ranks: dict) -> list[str]:
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank = best_i = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def main() -> None:
    train_rows = []
    enc_rows = []
    # --append: keep every existing fixture row whose corpus key is not
    # being regenerated, and compute only the named dirs.  Needed when
    # adding a NEW clone while earlier clones (e.g. a deleted /tmp adv
    # clone) are no longer on disk — a full rebuild would silently drop
    # their keys and un-oracle their old sweep artifacts.
    args = sys.argv[1:]
    append = "--append" in args
    args = [a for a in args if a != "--append"]
    dirs = args if append else SF_DIRS + args
    for sf_dir in dirs:
        con = duckdb.connect()
        path = f"{sf_dir}/documents.parquet"
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        docs = con.execute(
            f"SELECT doc_id, text FROM {src} ORDER BY doc_id").fetchall()
        corpus_rows = len(docs)
        corpus_chars = sum(len(t) for _, t in docs if t is not None)
        merges = train(train_word_counts([t for _, t in docs]))
        for rank, a, b, m, n in merges:
            train_rows.append((corpus_rows, corpus_chars, rank, a, b, m, n))
        ranks = {(a, b): rank for rank, a, b, _, _ in merges}
        cache: dict[str, list[str]] = {}
        for doc_id, t in docs:
            if t is None:
                continue
            toks: list[str] = []
            for w in _WS.split(t):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = encode_word(w, ranks)
                toks.extend(got)
            digest = hashlib.md5("|".join(toks).encode("utf-8")).hexdigest()
            enc_rows.append((corpus_rows, corpus_chars, doc_id,
                             len(toks), digest))
        print(f"{sf_dir}: {len(merges)} merges, {len(docs)} docs "
              f"(chars={corpus_chars})", file=sys.stderr)

    if append:
        new_keys = {(r[0], r[1]) for r in train_rows} | {
            (r[0], r[1]) for r in enc_rows}
        old_train = duckdb.connect().execute(
            f"SELECT * FROM '{FIXDIR}/bpe_train_golden.parquet'").fetchall()
        old_enc = duckdb.connect().execute(
            f"SELECT * FROM '{FIXDIR}/bpe_encode_golden.parquet'").fetchall()
        kept_t = [r for r in old_train if (r[0], r[1]) not in new_keys]
        kept_e = [r for r in old_enc if (r[0], r[1]) not in new_keys]
        print(f"--append: keeping {len(kept_t)} train / {len(kept_e)} "
              f"encode rows from existing fixture", file=sys.stderr)
        train_rows = kept_t + train_rows
        enc_rows = kept_e + enc_rows
    pq.write_table(pa.table(
        {"corpus_rows": pa.array([r[0] for r in train_rows], pa.int64()),
         "corpus_chars": pa.array([r[1] for r in train_rows], pa.int64()),
         "rank": pa.array([r[2] for r in train_rows], pa.int32()),
         "left": pa.array([r[3] for r in train_rows], pa.string()),
         "right": pa.array([r[4] for r in train_rows], pa.string()),
         "merged": pa.array([r[5] for r in train_rows], pa.string()),
         "pair_count": pa.array([r[6] for r in train_rows], pa.int64())}),
        os.path.join(FIXDIR, "bpe_train_golden.parquet"))
    pq.write_table(pa.table(
        {"corpus_rows": pa.array([r[0] for r in enc_rows], pa.int64()),
         "corpus_chars": pa.array([r[1] for r in enc_rows], pa.int64()),
         "doc_id": pa.array([r[2] for r in enc_rows], pa.int64()),
         "n_tokens": pa.array([r[3] for r in enc_rows], pa.int64()),
         "tok_digest": pa.array([r[4] for r in enc_rows], pa.string())}),
        os.path.join(FIXDIR, "bpe_encode_golden.parquet"))
    print("fixtures written", file=sys.stderr)


if __name__ == "__main__":
    main()
