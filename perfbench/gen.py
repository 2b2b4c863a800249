"""Seeded input generators for the benchmark's own workloads.

Everything here is a pure function of its arguments (no Spark): the same
seed gives the same rows on every host, and each generator also returns the
workload properties its input was built to have, so a result can show that
the workload has the property its "why" relies on.
"""

from __future__ import annotations

import hashlib

import numpy as np

# 13 consonants x 5 vowels = 65 syllables; an identifier joins three of
# them around an underscore, so no identifier can equal a stopword or a
# gazetteer entry (neither contains "_").
_SYL = [c + v for c in "bdfgklmprstvz" for v in "aeiou"]
_ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_PUNCT = ["=", "(", ")", ":", ",", "->", "{", "}", "."]
# alias suffixes of one CamelCase cluster: every pair of variants of an
# 8-character base has 3-gram Jaccard >= 0.5 (the pipeline's default
# lsh_min_jaccard), so a cluster of k variants plants C(k, 2) alias edges.
SUFFIXES = ["", "s", "2", "3", "x", "Io", "Ex", "Id", "Ok", "V2", "Fn", "Op"]
# numbered variants of one hub base: more than the pipeline's default LSH
# max_block (50) share a band signature, so those blocks are dropped.
HUB_VARIANTS = 80
# per file: 200 tokens, 30 of them CamelCase names, 1/7 punctuation, the
# rest identifiers drawn from a Zipf-Mandelbrot law over 120k ranks
TOKENS_PER_FILE = 200
NAMES_PER_FILE = 30
VOCAB = 120_000
ZIPF_S = 0.9


def _identifier(rank: int) -> str:
    # scatter ranks over the syllable space so frequent identifiers do not
    # all share one prefix (40_503 is odd, hence invertible mod 65**3)
    a, b = divmod(rank * 40_503 % 65 ** 3, 65 * 65)
    b, c = divmod(b, 65)
    return f"{_SYL[a]}{_SYL[b]}_{_SYL[c]}"


def _camel_bases(n: int, rng: np.random.Generator) -> list[str]:
    """n distinct CamelCase bases of two 4-character chunks ("Qx7rMwz2").
    Letters and digits give ~46k distinct 3-grams, so a gram is shared by
    few clusters and most LSH blocks hold a single cluster."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        draws = rng.integers(0, len(_ALNUM), size=(2 * (n - len(out)), 8))
        for row in draws.tolist():
            w = "".join(_ALNUM[k] for k in row)
            base = _UPPER[row[0] % 26] + w[1:4] + _UPPER[row[4] % 26] + w[5:]
            if base not in seen:
                seen.add(base)
                out.append(base)
                if len(out) == n:
                    break
    return out


def code_corpus_rows(n_files: int, seed: int, n_clusters: int, n_hubs: int
                     ) -> tuple[list[tuple], dict]:
    """Code-like files -> (corpus rows (row_id, repo, path, commit, lang,
    content), properties).

    The CamelCase names come from ``n_clusters`` alias clusters of
    len(SUFFIXES) surfaces plus ``n_hubs`` hub clusters of HUB_VARIANTS
    numbered surfaces. Every surface of the pool is used at least once:
    name slots are dealt round-robin over a seeded permutation of the
    pool."""
    rng = np.random.default_rng(seed)
    bases = _camel_bases(n_clusters + n_hubs, rng)
    pool = [b + s for b in bases[:n_clusters] for s in SUFFIXES]
    pool += [b[:7] + str(k) for b in bases[n_clusters:] for k in range(HUB_VARIANTS)]
    n_slots = n_files * NAMES_PER_FILE
    if n_slots < len(pool):
        raise ValueError(f"{n_files} files x {NAMES_PER_FILE} names cannot "
                         f"cover {len(pool)} surfaces")
    picks = rng.permutation(len(pool))[np.arange(n_slots) % len(pool)]
    rng.shuffle(picks)
    picks = picks.reshape(n_files, NAMES_PER_FILE)

    p = 1.0 / (np.arange(VOCAB, dtype=np.float64) + 2.7) ** ZIPF_S
    n_punct = TOKENS_PER_FILE // 7
    n_ids = TOKENS_PER_FILE - NAMES_PER_FILE - n_punct
    ids = rng.choice(VOCAB, size=(n_files, n_ids), p=p / p.sum())
    punct = rng.integers(0, len(_PUNCT), size=(n_files, n_punct))
    words_of = {int(r): _identifier(int(r)) for r in np.unique(ids)}

    rows = []
    for i in range(n_files):
        words = [words_of[r] for r in ids[i].tolist()]
        words += [_PUNCT[j] for j in punct[i].tolist()]
        words += [pool[j] for j in picks[i].tolist()]
        order = rng.permutation(len(words)).tolist()
        # the fixed head and tail keep names off the first and last two
        # token positions, where the name-case labeling function never fires
        content = "def " + " ".join(words[j] for j in order) + " return end"
        commit = hashlib.sha1(f"{seed}:code:{i}".encode()).hexdigest()
        rows.append((i, f"org{i % 11}/svc{i % 17}", f"pkg{i % 29}/mod{i}.py",
                     commit, "python", content))
    pairs = len(SUFFIXES) * (len(SUFFIXES) - 1) // 2
    props = {
        "rows": n_files,
        "tokens_per_row": TOKENS_PER_FILE + 3,
        "identifier_vocab": VOCAB,
        "distinct_identifiers": len(words_of),
        "distinct_tokens": len(words_of) + len(pool) + len(_PUNCT) + 3,
        "distinct_surfaces": len(pool),
        "alias_clusters": n_clusters,
        "planted_alias_edges": n_clusters * pairs,
        "hub_clusters": n_hubs,
        "hub_surfaces": n_hubs * HUB_VARIANTS,
        "hub_row_share": 0.0,
    }
    return rows, props
