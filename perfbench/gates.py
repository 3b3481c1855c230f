"""Output-correctness gates.  Each takes plain Python values collected
from a run and returns a list of failure messages (empty = pass), so
the self-tests can feed them deliberately corrupted outputs."""

from __future__ import annotations

import hashlib
import re
from collections import Counter

Span = tuple[str, "str | None", "str | None"]  # (kind, text, media_ref)


def span_sequences(expected: dict[str, list[Span]], actual: dict[str, list[Span]]) -> list[str]:
    """Span-sequence equality ``(kind, text, media_ref, order)`` per doc.
    A doc with no rows in the output has the empty sequence, which is
    right for a doc whose every span fails to parse."""
    errs = []
    for doc in sorted(expected):
        want, got = expected[doc], actual.get(doc, [])
        if want and not got:
            errs.append(f"{doc}: missing from the output")
        elif got != want:
            at = next((i for i, (w, g) in enumerate(zip(want, got)) if w != g),
                      min(len(want), len(got)))
            errs.append(f"{doc}: spans differ from golden at seq {at} "
                        f"({len(got)} spans, golden {len(want)})")
    return errs


def checkpoint_docs(docs_processed: int, n_input: int) -> list[str]:
    if docs_processed != n_input:
        return [f"checkpoint docs_processed sums to {docs_processed}, input has {n_input}"]
    return []


def resume_skips(first_done: list[int], resume_skipped: int,
                 resume_done: list[int], n_buckets: int) -> list[str]:
    """The resume leg skips exactly the buckets the first leg completed
    and completes all the others."""
    errs = []
    if resume_skipped != len(first_done):
        errs.append(f"resume leg skipped {resume_skipped} buckets, first leg completed {len(first_done)}")
    if set(first_done) & set(resume_done):
        errs.append(f"resume leg re-ran completed buckets {sorted(set(first_done) & set(resume_done))}")
    if set(first_done) | set(resume_done) != set(range(n_buckets)):
        errs.append("first and resume legs together do not cover every bucket")
    return errs


def lookup_rows(doc_id: str, rows: list) -> list[str]:
    if len(rows) != 1:
        return [f"lookup {doc_id} returned {len(rows)} rows, expected exactly 1"]
    return []


def query_limit(text: str, rows: list, limit: int) -> list[str]:
    if len(rows) > limit:
        return [f"query {text!r} returned {len(rows)} rows, limit {limit}"]
    return []


def fresh_chunks(stored: dict[str, list[int]], expected: dict[str, list[int]]) -> list[str]:
    """After a re-ingest each doc holds exactly the chunk segments of its
    new content: nothing stale left behind, nothing dropped."""
    errs = []
    for doc, want in sorted(expected.items()):
        got = sorted(stored.get(doc, []))
        if got != want:
            errs.append(f"{doc}: stored {len(got)} segments, its new content has {len(want)}")
    return errs


def no_exact_copy(survivors: set[str], planted_exact: set[str]) -> list[str]:
    left = sorted(survivors & planted_exact)
    return [f"planted exact copies survived curation: {left[:5]}"] if left else []


def simhash_signature(text: str) -> str:
    """32-bit SimHash of ``text``, written from the definition in
    ``operators.dedup.simhash_signatures``: normalized words, bit j of a
    word's hash is the high bit of the j-th hex digit of its md5, and bit
    j of the signature is the majority vote over the words."""
    words = Counter(re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" "))
    votes = [0] * 32
    for w, n in words.items():
        if not w:
            continue
        h = hashlib.md5(w.encode()).hexdigest()
        for j in range(32):
            votes[j] += n if h[j] in "89abcdef" else -n
    return "".join("1" if v > 0 else "0" for v in votes)


def simhash_pairs(pairs: list[tuple[str, str, int]], sigs: dict[str, str],
                  max_hamming: int = 3) -> list[str]:
    """Recompute each sampled pair's hamming distance from signatures
    computed independently of the program; it must match the reported
    one and be ≤ max_hamming."""
    errs = []
    for a, b, h in pairs:
        if a not in sigs or b not in sigs:
            errs.append(f"pair ({a}, {b}) has no signature")
            continue
        d = bin(int(sigs[a], 2) ^ int(sigs[b], 2)).count("1")
        if d != h or d > max_hamming or not a < b:
            errs.append(f"pair ({a}, {b}): reported hamming {h}, recomputed {d}")
    return errs


def monotone_funnel(stages: list[tuple[str, int]]) -> list[str]:
    errs = [f"gate funnel grows from {a} ({x}) to {b} ({y})"
            for (a, x), (b, y) in zip(stages, stages[1:]) if y > x]
    if stages and stages[-1][1] <= 0:
        errs.append(f"no document survives curation ({stages[-1][0]} = {stages[-1][1]})")
    return errs
