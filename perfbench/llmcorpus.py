"""Seeded document corpus with planted near-duplicates, and its ground truth.

Every document is lowercase single-spaced text over the 31-word fixture
vocabulary, so two unrelated documents share almost no 3-token shingles.
Near-duplicate pairs are planted by token substitution: a copy of a base
document has tokens replaced one at a time until its exact 3-shingle
Jaccard similarity to the base reaches the pair's target level. Levels above
the 0.8 dedup threshold stop while still at or above the level; levels below
it continue until at or below the level, so every planted pair sits on a
known side of the threshold.

A held-out slice plays the evaluation set for `decontaminate`: half of it
embeds a 13-to-30-token excerpt of a corpus document, the other half is
fresh text. All checks here are plain Python over the generated strings.
"""

from __future__ import annotations

import numpy as np

from datagen import DOC_VOCAB, random_text

THRESHOLD = 0.8
LEVELS_ABOVE = (0.95, 0.9, 0.85)
LEVELS_BELOW = (0.7, 0.6, 0.5)
NGRAM_N = 13


def shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 1.0


def _plant(rng, base: list[str], level: float) -> tuple[list[str], float]:
    """Substitute tokens of `base` until the 3-shingle Jaccard meets `level`
    from the side of the threshold that `level` lies on."""
    above = level >= THRESHOLD
    ref = shingles(" ".join(base))
    cur = list(base)
    sim = 1.0
    for pos in rng.permutation(len(base)):
        trial = list(cur)
        choices = [w for w in DOC_VOCAB if w != trial[pos]]
        trial[pos] = choices[int(rng.integers(0, len(choices)))]
        trial_sim = jaccard(ref, shingles(" ".join(trial)))
        if above and trial_sim < level:
            continue
        cur, sim = trial, trial_sim
        if (above and sim <= level + 0.02) or (not above and sim <= level):
            break
    return cur, sim


class LlmCorpus:
    """Documents, planted pairs and held-out slice for one seed."""

    def __init__(self, seed: int, n_docs: int, n_pairs: int, n_heldout: int):
        rng = np.random.default_rng([seed, 7])
        levels = LEVELS_ABOVE + LEVELS_BELOW
        texts: list[str] = []
        pair_slots: list[tuple[int, int, float]] = []
        for p in range(n_pairs):
            base = random_text(rng, int(rng.integers(60, 100))).split()
            dup, sim = _plant(rng, base, levels[p % len(levels)])
            pair_slots.append((len(texts), len(texts) + 1, sim))
            texts += [" ".join(base), " ".join(dup)]
        while len(texts) < n_docs:
            texts.append(random_text(rng, int(rng.integers(40, 100))))
        # doc ids are a seeded permutation, so pair members are not adjacent
        ids = rng.permutation(len(texts))
        self.texts: dict[int, str] = {int(ids[i]): t for i, t in enumerate(texts)}
        self.pairs = [(int(ids[a]), int(ids[b]), s) for a, b, s in pair_slots]

        self.heldout: list[str] = []
        for h in range(n_heldout):
            words = random_text(rng, int(rng.integers(40, 80))).split()
            if h % 2 == 0:
                src = self.texts[int(rng.integers(0, len(texts)))].split()
                span = int(rng.integers(NGRAM_N, min(30, len(src)) + 1))
                start = int(rng.integers(0, len(src) - span + 1))
                at = int(rng.integers(0, len(words) + 1))
                words[at:at] = src[start:start + span]
            self.heldout.append(" ".join(words))

    # -- ground truth -------------------------------------------------------

    def contaminated(self) -> dict[int, int]:
        """doc id -> distinct 13-grams shared with the held-out slice."""
        held: set[tuple[str, ...]] = set()
        for t in self.heldout:
            held |= shingles(t, NGRAM_N)
        out = {}
        for doc_id, t in self.texts.items():
            hits = len(shingles(t, NGRAM_N) & held)
            if hits:
                out[doc_id] = hits
        return out

    def recall(self, cluster_of: dict[int, int]) -> float:
        """Share of planted pairs above the threshold put in one cluster."""
        truth = [(a, b) for a, b, s in self.pairs if s >= THRESHOLD]
        found = sum(1 for a, b in truth if cluster_of.get(a) == cluster_of.get(b))
        return found / len(truth)

    def unchained(self, cluster_of: dict[int, int]) -> list[int]:
        """Cluster ids whose members are not linked by a chain of pairs with
        exact 3-shingle Jaccard >= the threshold."""
        members: dict[int, list[int]] = {}
        for doc_id, cid in cluster_of.items():
            members.setdefault(cid, []).append(doc_id)
        bad = []
        for cid, docs in members.items():
            if len(docs) < 2:
                continue
            sh = {d: shingles(self.texts[d]) for d in docs}
            reached, frontier = {docs[0]}, [docs[0]]
            while frontier:
                d = frontier.pop()
                for e in docs:
                    if e not in reached and jaccard(sh[d], sh[e]) >= THRESHOLD:
                        reached.add(e)
                        frontier.append(e)
            if len(reached) != len(docs):
                bad.append(cid)
        return bad
