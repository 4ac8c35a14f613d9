"""Word-level dictionary matcher for batched mention detection.

Built once per executor from a broadcast alias collection and run over
Arrow batches of page text inside ``mapInPandas`` — one hash probe per
token, so the per-document cost is linear in the text and independent
of dictionary size (a regex alternation over 100k aliases is not).
Matches are whole-token, so "Kalo 1" doesn't fire inside "Kalo 10".
"""

from __future__ import annotations

import re
from collections.abc import Iterable


class TokenDictMatcher:
    """Word-level dictionary matcher — the cache-friendly fast path.

    Aliases are (almost always) sequences of whitespace tokens, so the
    automaton can be a single dict keyed on the FIRST token with
    candidate continuations checked inline: one hash lookup per token
    instead of one trie transition per character. ~10× less memory
    traffic per input byte than a char-level Aho-Corasick automaton,
    which matters on bandwidth-bound hosts (measured: a char-trie AC
    stops scaling past ~8 cores on memory-bandwidth-bound VMs; this
    scales).

    Output contract: token-boundary matches, longest match first,
    non-overlapping, (start, end, pattern) spans; ``pattern`` is the
    alias's tokens joined by single spaces.
    """

    __slots__ = ("index",)
    _TOK = re.compile(r"\S+")

    def __init__(self, patterns: Iterable[str]):
        index: dict[str, list[tuple[str, ...]]] = {}
        for p in patterns:
            toks = tuple(p.split())
            if not toks:
                continue
            index.setdefault(toks[0], []).append(toks)
        for cands in index.values():
            cands.sort(key=len, reverse=True)
        self.index = index

    def find(self, text: str) -> list[tuple[int, int, str]]:
        # words in one C pass; spans materialized lazily per hit from
        # the match objects (most tokens miss the index entirely, so
        # avoid building 3-tuples for every token)
        matches = self._TOK.findall(text)
        out: list[tuple[int, int, str]] = []
        i, n = 0, len(matches)
        index = self.index
        get = index.get
        hits_idx: list[tuple[int, int, str]] = []
        while i < n:
            cands = get(matches[i])
            if cands:
                for c in cands:
                    L = len(c)
                    if i + L <= n and all(
                        matches[i + k] == c[k] for k in range(1, L)
                    ):
                        hits_idx.append((i, i + L - 1, " ".join(c)))
                        i += L
                        break
                else:
                    i += 1
            else:
                i += 1
        if not hits_idx:
            return out
        # one finditer pass to resolve char offsets of hit tokens only
        spans = [m.span() for m in self._TOK.finditer(text)]
        for i0, i1, pat in hits_idx:
            out.append((spans[i0][0], spans[i1][1], pat))
        return out


# (patterns, matcher) for the last dictionary seen by this worker; the
# patterns object is held so its id cannot be reused by another one
_TOKEN_CACHE: list = [None, None]


def token_matcher_for(patterns: tuple[str, ...]) -> TokenDictMatcher:
    """Executor-local cache: one matcher per dictionary object (a
    broadcast value is unpickled once per Python worker, so every task
    of a job reuses the same matcher)."""
    if _TOKEN_CACHE[0] is not patterns:
        _TOKEN_CACHE[:] = [patterns, TokenDictMatcher(patterns)]
    return _TOKEN_CACHE[1]
