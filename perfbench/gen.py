"""Seeded input generator for the ``mapreduce_files`` workload.

``corpus(out_dir, seed)`` writes text files whose words follow a Zipf law
over a large vocabulary, plus the exact per-word counts that serve as the
oracle for the merged output. The same seed gives the same bytes.

Run directly to inspect: ``python3 perfbench/gen.py <dir> <seed>``.
"""
import json
import os
import sys

import numpy as np


def corpus(out_dir, seed, n_files=64, words_per_file=60_000,
           vocab=280_000, zipf_s=1.2):
    """Write `n_files` text files of Zipf(s) words under `out_dir/files`
    and their exact word counts to `out_dir/counts.json`.

    Word ranks are drawn by inverse-CDF sampling of a truncated Zipf law over
    `vocab` ranks; rank r is spelled as a base-26 string, so every word is a
    distinct lowercase token. Returns the exact word -> count map.
    """
    files = os.path.join(out_dir, "files")
    os.makedirs(files, exist_ok=True)
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** zipf_s
    cdf = np.cumsum(w / w.sum())
    spell = np.array([_word(r) for r in range(vocab)], dtype=object)
    total = np.zeros(vocab, dtype=np.int64)
    for f in range(n_files):
        ranks = np.minimum(np.searchsorted(cdf, rng.random(words_per_file)), vocab - 1)
        total += np.bincount(ranks, minlength=vocab)
        words = spell[ranks]
        lines = [" ".join(words[i:i + 12]) for i in range(0, len(words), 12)]
        with open(os.path.join(files, f"part-{f:03d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    counts = {spell[r]: int(c) for r, c in enumerate(total) if c}
    with open(os.path.join(out_dir, "counts.json"), "w") as fh:
        json.dump(counts, fh)
    return counts


def _word(r):
    s = ""
    r += 1
    while r:
        r, d = divmod(r - 1, 26)
        s = chr(97 + d) + s
    return "w" + s


if __name__ == "__main__":
    corpus(sys.argv[1], int(sys.argv[2]))
