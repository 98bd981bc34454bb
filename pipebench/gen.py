"""Seeded paper-metadata generator and its pure-Python ground-truth ledger.

The generator writes three JSONL sources (arxiv, s2, openalex) carrying
the reference inputs' pathologies: cross-source id duplicates, empty and
null ids, exact-title and near-duplicate titles (on both sides of the
D4 threshold), titles under 8 characters, corrupt lines, and empty,
short and LaTeX/HTML-dirty abstracts. The ledger replays the reference's D1-D4
rules (merge_jsonl.py, strict_deduplication.py) over the generated
records in plain Python, without Spark, so the benchmark can check the
program's stage counts against numbers it did not compute with the
program.

Every planted structure keeps the checked facts layout-invariant:

- near-duplicate pairs always differ in publish_year, so the keep-newest
  D4 rule never falls through to an arrival-order tie-break (FIXTURES.md
  §8.2 also asks for equal-year pairs; they are left out because which
  row of such a pair survives follows the program's physical row order,
  ROADMAP item 3);
- exact-title groups, near-duplicate pairs and cross-source copies use
  disjoint base papers;
- titles are ASCII words separated by single spaces, so Python's
  ``lower``/``split``/``strip(" ")`` match Spark's ``lower``/whitespace
  split/``trim``.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field
from fractions import Fraction

SOURCES = ("arxiv", "s2", "openalex")
SOURCE_WEIGHTS = (0.5, 0.3, 0.2)
D4_THRESHOLD = 0.9

_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
_FIELDS = ["machine learning", "Computer Vision", " robotics ", "NLP", "theory",
           "Information Retrieval", "databases", "MACHINE LEARNING"]
_DIRT = ["$x^2$", "$$\\sum_i a_i$$", "\\textbf{bold}", "\\emph{key}", "\\cite ",
         "&amp;", "&lt;", "café", "naïve", "<b>", "&nbsp;"]


# Shares of the base papers, from the reference inputs' generation hints
# in FIXTURES.md §1 (arXiv source schema) and §8 (pathology checklist).
ID_DUP_FRAC = 0.02  # "~2% duplicated IDs": the paper again in a second source
KEYLESS_FRAC = 0.005  # with KEYLESS_DUP_FRAC, "~1% null/missing" ids;
KEYLESS_DUP_FRAC = 0.005  # these also arrive keyless from a second source
TITLE_DUP_FRAC = 0.03  # "~3% exact-duplicate titles (case/whitespace variants)"
NEAR_DUP_FRAC = 0.02  # "~2% near-duplicates", see NEAR_DUP_SHAPES
SHORT_TITLE_FRAC = 0.01  # "~1% < 8 chars"
EMPTY_ABSTRACT_FRAC = 0.10  # "~10% empty"
SHORT_ABSTRACT_FRAC = 0.05  # "~5% < 120 chars"
# (title words, words added): near-duplicate pairs with token-set Jaccard
# 17/20 = 0.85, 9/10 = 0.90 and 19/20 = 0.95, straddling D4_THRESHOLD
# (FIXTURES.md §8.2); the i-th pair takes shape i % 3.
NEAR_DUP_SHAPES = ((17, 3), (9, 1), (19, 1))
# Assumptions: the reference inputs give no rate for these.
CORRUPT_FRAC = 0.01  # corrupt lines per source, plus one
DIRTY_FRAC = 0.2  # abstracts with LaTeX/HTML/non-ASCII tokens


@dataclass
class Inputs:
    """Generated sources: ``lines[src]`` is the JSONL text per line and
    ``records[src]`` the parsed record per line (``None`` = corrupt)."""

    lines: dict[str, list[str]] = field(default_factory=dict)
    records: dict[str, list[dict | None]] = field(default_factory=dict)

    def write(self, directory: str) -> dict[str, str]:
        os.makedirs(directory, exist_ok=True)
        paths = {}
        for src in SOURCES:
            paths[src] = os.path.join(directory, f"{src}.jsonl")
            with open(paths[src], "w", encoding="utf-8") as fh:
                fh.write("\n".join(self.lines[src]) + "\n")
        return paths

    @property
    def raw_papers(self) -> int:
        return sum(r is not None for src in SOURCES for r in self.records[src])

    @property
    def corrupt(self) -> int:
        return sum(r is None for src in SOURCES for r in self.records[src])


@dataclass
class Ledger:
    """Reference-order stage results computed in pure Python."""

    corrupt: int
    raw_papers: int
    d1: int
    d2: int
    d3: int
    d4: int
    survivors: set[tuple[str, str]]  # (source, url) of the D4 survivors

    def counts(self) -> dict[str, int]:
        """The facts checked against the program's separate stage-count pass;
        ``d4`` is checked against the chain's own output instead."""
        return {"corrupt": self.corrupt, "d1": self.d1, "d2": self.d2, "d3": self.d3}


def pid_of(n: int) -> str:
    """Paper id ``YYMM.NNNNN``; :func:`doc_id_of` maps it to a long."""
    return f"{2501 + n // 100_000}.{n % 100_000:05d}"


def doc_id_of(pid: str) -> int:
    return int(pid.replace(".", ""))


def _vocab(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def generate(seed: int, n_base: int) -> Inputs:
    rng = random.Random(seed)
    vocab = _vocab(rng, 6000)
    short_words = [w for w in vocab if len(w) < 8]
    titles: set[str] = set()

    def new_title(n_words: int) -> str:
        while True:
            t = " ".join(rng.sample(vocab, n_words))
            if t not in titles:
                titles.add(t)
                return t

    def short_title() -> str:
        while True:
            t = rng.choice(short_words)
            if t not in titles:
                titles.add(t)
                return t

    def abstract() -> str:
        u = rng.random()
        if u < EMPTY_ABSTRACT_FRAC:
            return ""
        if u < EMPTY_ABSTRACT_FRAC + SHORT_ABSTRACT_FRAC:
            return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8)))
        words = [rng.choice(vocab) for _ in range(rng.randint(30, 60))]
        if rng.random() < DIRTY_FRAC:
            for _ in range(rng.randint(1, 4)):
                words.insert(rng.randrange(len(words)), rng.choice(_DIRT))
        return " ".join(words)

    next_pid = [0]

    def fresh_pid() -> str:
        next_pid[0] += 1
        return pid_of(next_pid[0])

    def paper(pid, title, year, url) -> dict:
        authors = [f"{rng.choice(vocab).title()} {rng.choice(vocab).title()}"
                   for _ in range(rng.randint(1, 5))]
        if rng.random() < 0.2:
            authors += [None, "", "  "]
        return {
            "paper_id": pid,
            "title": title,
            "abstract": abstract(),
            "authors": authors,
            "publish_year": year,
            "venue": rng.choice(["", "NeurIPS", "ICML", "ACL", "CVPR", None]),
            "citation_count": rng.randint(0, 500),
            "fields_of_study": rng.sample(_FIELDS, rng.randint(0, 3)),
            "url": url,
        }

    placed: dict[str, list[dict]] = {s: [] for s in SOURCES}

    def home() -> str:
        return rng.choices(SOURCES, SOURCE_WEIGHTS)[0]

    out = Inputs()
    roles = ["plain"] * n_base
    # disjoint role assignment over base papers
    idx = list(range(n_base))
    rng.shuffle(idx)
    cuts = [("keyless", KEYLESS_FRAC), ("id_dup", ID_DUP_FRAC),
            ("keyless_dup", KEYLESS_DUP_FRAC), ("title_dup", TITLE_DUP_FRAC),
            ("near_dup", NEAR_DUP_FRAC), ("short_title", SHORT_TITLE_FRAC)]
    pos = 0
    for role, frac in cuts:
        k = int(n_base * frac)
        for i in idx[pos:pos + k]:
            roles[i] = role
        pos += k

    near = 0
    for i in range(n_base):
        role = roles[i]
        year = rng.randint(2012, 2025)
        keyless = role in ("keyless", "keyless_dup")
        pid = rng.choice([None, ""]) if keyless else fresh_pid()
        url = f"https://example.org/paper/{seed}/{i}"
        if role == "near_dup":
            n_words, n_added = NEAR_DUP_SHAPES[near % len(NEAR_DUP_SHAPES)]
            near += 1
            title = new_title(n_words)
        elif role == "short_title":
            title = short_title()
        else:
            title = new_title(rng.randint(9, 14))
        base = paper(pid, title, year, url)
        src = home()
        placed[src].append(base)
        if role in ("id_dup", "keyless_dup"):
            # the same paper again in another source (D1 keeps the
            # earlier source's copy; keyless copies merge on title)
            other = rng.choice([s for s in SOURCES if s != src])
            copy = dict(base, citation_count=rng.randint(0, 500))
            if keyless:
                copy["paper_id"] = rng.choice([None, ""])
            placed[other].append(copy)
        elif role == "title_dup":
            variant = base["title"].upper() if rng.random() < 0.5 else "  " + base["title"] + " "
            dup_pid = rng.choice([None, "", fresh_pid()])
            placed[home()].append(paper(dup_pid, variant, rng.randint(2012, 2025),
                                        url + "/copy"))
        elif role == "near_dup":
            words = title.split(" ")
            unused = set(words)
            for _ in range(n_added):
                w = rng.choice(vocab)
                while w in unused:
                    w = rng.choice(vocab)
                unused.add(w)
                words.insert(rng.randrange(len(words) + 1), w)
            near_title = " ".join(words)
            titles.add(near_title)
            near_year = year + rng.choice([-3, -2, -1, 1, 2, 3])
            placed[home()].append(paper(fresh_pid(), near_title, near_year, url + "/v2"))

    for src in SOURCES:
        recs = placed[src]
        rng.shuffle(recs)
        recs = [dict(r, source=src) for r in recs]
        lines = [json.dumps(r) for r in recs]
        records: list[dict | None] = list(recs)
        for _ in range(int(len(recs) * CORRUPT_FRAC) + 1):
            at = rng.randrange(len(lines) + 1)
            bad = rng.choice(lines)[: rng.randint(5, 40)] if lines else "{"
            lines.insert(at, bad)
            records.insert(at, None)
        out.lines[src] = lines
        out.records[src] = records
    return out


def _tokens(title: str | None) -> frozenset[str]:
    return frozenset((title or "").lower().split())


def _similar_removed(rows: list[dict], threshold: float = D4_THRESHOLD) -> set[int]:
    """Indices dropped by the exact D4 rule: a row goes when any row
    before it in (publish_year desc, arrival asc) order has token-set
    Jaccard >= threshold. Candidate pairs come from prefix filtering
    over a global token order, which finds every such pair."""
    order = sorted(range(len(rows)), key=lambda i: (-(rows[i].get("publish_year") or 0), i))
    rank = {i: r for r, i in enumerate(order)}
    sets = [_tokens(r.get("title")) for r in rows]
    freq: dict[str, int] = {}
    for s in sets:
        for t in s:
            freq[t] = freq.get(t, 0) + 1
    index: dict[str, list[int]] = {}
    removed: set[int] = set()
    for i, s in enumerate(sets):
        if not s:
            continue
        toks = sorted(s, key=lambda t: (freq[t], t))
        prefix = toks[: len(toks) - math.ceil(Fraction(str(threshold)) * len(toks)) + 1]
        seen: set[int] = set()
        for t in prefix:
            for j in index.get(t, ()):
                if j in seen:
                    continue
                seen.add(j)
                o = sets[j]
                if len(s & o) / len(s | o) >= threshold:
                    removed.add(i if rank[i] > rank[j] else j)
            index.setdefault(t, []).append(i)
    return removed


def ledger(inputs: Inputs) -> Ledger:
    """Replay D1 → D2 → D3 → D4 in the reference's order."""
    merged: list[dict] = []
    keys: set = set()
    for src in SOURCES:
        for rec in inputs.records[src]:
            if rec is None:
                continue
            key = rec["paper_id"] or rec["title"]
            if key not in keys:
                keys.add(key)
                merged.append(rec)
    step1, pids = [], set()
    for rec in merged:
        pid = rec["paper_id"]
        if not pid or pid not in pids:
            step1.append(rec)
            if pid:
                pids.add(pid)
    step2, hashes = [], set()
    for rec in step1:
        h = (rec["title"] or "").strip(" ").lower()
        if h not in hashes:
            hashes.add(h)
            step2.append(rec)
    removed = _similar_removed(step2)
    step3 = [r for i, r in enumerate(step2) if i not in removed]
    return Ledger(
        corrupt=inputs.corrupt,
        raw_papers=inputs.raw_papers,
        d1=len(merged),
        d2=len(step1),
        d3=len(step2),
        d4=len(step3),
        survivors={(r["source"], r["url"]) for r in step3},
    )
