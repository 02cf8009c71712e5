"""Aho-Corasick gazetteer scanner: O(text) matching at any vocabulary size.

The regex-alternation scan in mentions.py is linear in the ALTERNATION for
every failed position — fine at O(10^4) aliases, hopeless at the O(10^6)
alias index the north rule implies (mentions.py:18-20 documented this
upgrade; this module is it). The automaton is built once per executor
process per vocabulary (md5-keyed cache) from the broadcast alias list, so
the cost is O(vocab) per executor lifetime, and each page scan is
O(len(text) + hits) regardless of vocabulary size.

Semantics contract: `scan(text)` returns exactly the surfaces the
regex scan returns — leftmost-longest, non-overlapping, with no word
character on either side (`(?<!\\w)` / `(?!\\w)`, so an alias that ends
in punctuation, "N.W.T.", still matches before a space). The longest-first
alternation regex over distinct literal aliases implements leftmost-longest
non-overlapping matching; we reproduce it by collecting ALL boundary-valid
matches and sweeping (start asc, length desc), which tests pin against the
regex on adversarial overlapping vocabularies (tests/test_mentions_link.py).
"""

from __future__ import annotations

import hashlib
from collections import deque


def _is_word(ch: str) -> bool:
    # matches Python re's \w with str patterns: unicode alnum or underscore
    return ch.isalnum() or ch == "_"


class AhoCorasick:
    """Dict-transition trie with BFS failure links."""

    def __init__(self, words: list[str]):
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        self.fail: list[int] = [0]
        for w in sorted(set(words)):
            if not w:
                continue
            node = 0
            for ch in w:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node].append(w)
        q: deque[int] = deque()
        for child in self.goto[0].values():
            q.append(child)
        while q:
            node = q.popleft()
            for ch, child in self.goto[node].items():
                q.append(child)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[child] = self.goto[f].get(ch, 0)
                if self.fail[child] == child:
                    self.fail[child] = 0
                self.out[child] = self.out[child] + self.out[self.fail[child]]

    def find_all(self, text: str) -> list[tuple[int, int]]:
        """All (start, end) occurrences of any word (no boundary check)."""
        hits: list[tuple[int, int]] = []
        node = 0
        for i, ch in enumerate(text):
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            for w in self.out[node]:
                hits.append((i - len(w) + 1, i + 1))
        return hits

    def scan(self, text: str) -> list[tuple[int, int]]:
        """Leftmost-longest non-overlapping matches with no word character
        on either side — the exact semantics of
        `(?<!\\w)(longest|...|shortest)(?!\\w)`.finditer."""
        n = len(text)
        valid = [
            (s, e)
            for s, e in self.find_all(text)
            if (s == 0 or not _is_word(text[s - 1]))
            and (e == n or not _is_word(text[e]))
        ]
        valid.sort(key=lambda se: (se[0], se[0] - se[1]))  # start asc, len desc
        picked: list[tuple[int, int]] = []
        pos = 0
        for s, e in valid:
            if s >= pos:
                picked.append((s, e))
                pos = e
        return picked


_CACHE: dict[str, AhoCorasick] = {}


def automaton(words: list[str]) -> AhoCorasick:
    """Per-process cache: one build per vocabulary per executor lifetime."""
    key = hashlib.md5("\x00".join(sorted(set(words))).encode()).hexdigest()
    ac = _CACHE.get(key)
    if ac is None:
        ac = _CACHE[key] = AhoCorasick(words)
    return ac
