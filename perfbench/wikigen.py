"""Seeded wiki-dump generator for the `wiki_pagerank` workload.

One page per line, in the shape the reference PageRank job scans:

    <title>T</title><text xml:space="preserve">prose [[Target]] prose ...</text>

Properties the workload depends on:
  * out-degree is geometric (the discrete exponential) with mean 10, so
    some pages have no links at all;
  * link targets are hub-skewed: target rank r among the pages is drawn
    as n * u**3, so a few pages collect a large share of the in-links;
  * about 5 % of links name a page that does not exist, so the
    reference's rule that drops links to non-pages does work;
  * duplicate links inside one page happen naturally and are kept.

Generation runs in one thread and depends only on (seed, pages): the
same arguments always give the same bytes.
"""
import json
import sys

import numpy as np

WORDS = ("the", "of", "and", "in", "was", "is", "for", "as", "on", "with",
         "by", "he", "at", "from", "his", "an", "were", "are", "which",
         "this", "also", "be", "or", "has", "had", "first", "one", "their")
MEAN_OUT_DEGREE = 10.0
MISSING_SHARE = 0.05


def generate(path: str, pages: int, seed: int) -> dict:
    """Writes the dump to `path`; returns its pages, links and bytes."""
    rng = np.random.default_rng(seed)
    order = rng.permutation(pages)  # popularity rank -> page id
    titles = [f"Page {i:06d}" for i in range(pages)]
    degree = rng.geometric(1.0 / (MEAN_OUT_DEGREE + 1.0), size=pages) - 1
    total = int(degree.sum())
    ranks = np.minimum((pages * rng.random(total) ** 3).astype(np.int64),
                       pages - 1)
    targets = order[ranks]
    missing = rng.random(total) < MISSING_SHARE
    missing_ids = rng.integers(0, pages, size=total)
    prose = rng.integers(0, len(WORDS), size=total)

    n_links = n_missing = 0
    size = 0
    pos = 0
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for i in range(pages):
            parts = [f"<title>{titles[i]}</title><text xml:space=\"preserve\">"]
            for j in range(pos, pos + int(degree[i])):
                if missing[j]:
                    target = f"Missing {int(missing_ids[j]):06d}"
                    n_missing += 1
                else:
                    target = titles[int(targets[j])]
                parts.append(f"{WORDS[int(prose[j])]} [[{target}]] ")
            pos += int(degree[i])
            n_links += int(degree[i])
            parts.append("</text>\n")
            line = "".join(parts)
            size += len(line.encode("utf-8"))
            f.write(line)
    return {"pages": pages, "links": n_links, "missing_links": n_missing,
            "bytes": size, "seed": seed}


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: wikigen.py <out-file> <pages> <seed>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))))
