"""Classic Porter (1980) stemmer, pure Python.

Behavioral parity target: the tartarus.org Java distribution vendored by the
reference at
``themis/lexicalAnalysis/stemmer/english/PorterStemmer.java:84-627`` (the
"updated" classic variant: ``bli -> ble``, ``logi -> log``, Bug-1 guards in
steps 3/5, and the ``len <= 2 -> unchanged`` entry guard at ``stem()``
:612-622).  The dispatch wrapper mirrors
``themis/lexicalAnalysis/stemmer/Stemmer.java:47-73``: lowercase+trim, Greek
(U+0370-U+03FF) and non-ASCII-initial words are returned unstemmed; only
words whose first char is in U+0021-U+007E are Porter-stemmed.

This is an independent implementation of the published algorithm (Porter,
"An algorithm for suffix stripping", Program 14(3) 1980) — no reference code
was copied.  It is deliberately allocation-light so it can run inside an
Arrow-batched UDF with a per-worker memo dict (Zipf token
distributions give >95% memo hit rates).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiou")


class _Porter:
    """Mutable buffer stemmer; one instance reused across calls."""

    __slots__ = ("b", "k", "j")

    def __init__(self) -> None:
        self.b: list[str] = []
        self.k = 0  # index of last char of current stem
        self.j = 0  # scratch boundary set by _ends

    # --- measure / shape predicates over b[0..k] ----------------------
    def _cons(self, i: int) -> bool:
        ch = self.b[i]
        if ch in _VOWELS:
            return False
        if ch == "y":
            return True if i == 0 else not self._cons(i - 1)
        return True

    def _m(self) -> int:
        """Number of consonant sequences in b[0..j]."""
        n = 0
        i = 0
        j = self.j
        while True:
            if i > j:
                return n
            if not self._cons(i):
                break
            i += 1
        i += 1
        while True:
            while True:
                if i > j:
                    return n
                if self._cons(i):
                    break
                i += 1
            i += 1
            n += 1
            while True:
                if i > j:
                    return n
                if not self._cons(i):
                    break
                i += 1
            i += 1

    def _vowelinstem(self) -> bool:
        return any(not self._cons(i) for i in range(self.j + 1))

    def _doublec(self, j: int) -> bool:
        if j < 1:
            return False
        if self.b[j] != self.b[j - 1]:
            return False
        return self._cons(j)

    def _cvc(self, i: int) -> bool:
        if i < 2 or not self._cons(i) or self._cons(i - 1) or not self._cons(i - 2):
            return False
        return self.b[i] not in ("w", "x", "y")

    def _ends(self, s: str) -> bool:
        ln = len(s)
        if ln > self.k + 1:
            return False
        if self.b[self.k - ln + 1 : self.k + 1] != list(s):
            return False
        self.j = self.k - ln
        return True

    def _setto(self, s: str) -> None:
        self.b[self.j + 1 : self.j + 1 + len(s)] = list(s)
        self.k = self.j + len(s)

    def _r(self, s: str) -> None:
        if self._m() > 0:
            self._setto(s)

    # --- the six steps (numbered as in the reference Java) ------------
    def _step1(self) -> None:
        if self.b[self.k] == "s":
            if self._ends("sses"):
                self.k -= 2
            elif self._ends("ies"):
                self._setto("i")
            elif self.b[self.k - 1] != "s":
                self.k -= 1
        if self._ends("eed"):
            if self._m() > 0:
                self.k -= 1
        elif (self._ends("ed") or self._ends("ing")) and self._vowelinstem():
            self.k = self.j
            if self._ends("at"):
                self._setto("ate")
            elif self._ends("bl"):
                self._setto("ble")
            elif self._ends("iz"):
                self._setto("ize")
            elif self._doublec(self.k):
                self.k -= 1
                if self.b[self.k] in ("l", "s", "z"):
                    self.k += 1
            elif self._m() == 1 and self._cvc(self.k):
                self._setto("e")

    def _step2(self) -> None:
        if self._ends("y") and self._vowelinstem():
            self.b[self.k] = "i"

    _STEP3 = {
        "a": (("ational", "ate"), ("tional", "tion")),
        "c": (("enci", "ence"), ("anci", "ance")),
        "e": (("izer", "ize"),),
        "l": (("bli", "ble"), ("alli", "al"), ("entli", "ent"), ("eli", "e"),
              ("ousli", "ous")),
        "o": (("ization", "ize"), ("ation", "ate"), ("ator", "ate")),
        "s": (("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
              ("ousness", "ous")),
        "t": (("aliti", "al"), ("iviti", "ive"), ("biliti", "ble")),
        "g": (("logi", "log"),),
    }

    def _step3(self) -> None:
        if self.k == 0:
            return
        for suf, rep in self._STEP3.get(self.b[self.k - 1], ()):
            if self._ends(suf):
                self._r(rep)
                return

    _STEP4 = {
        "e": (("icate", "ic"), ("ative", ""), ("alize", "al")),
        "i": (("iciti", "ic"),),
        "l": (("ical", "ic"), ("ful", "")),
        "s": (("ness", ""),),
    }

    def _step4(self) -> None:
        for suf, rep in self._STEP4.get(self.b[self.k], ()):
            if self._ends(suf):
                self._r(rep)
                return

    _STEP5 = {
        "a": ("al",),
        "c": ("ance", "ence"),
        "e": ("er",),
        "i": ("ic",),
        "l": ("able", "ible"),
        "n": ("ant", "ement", "ment", "ent"),
        "s": ("ism",),
        "t": ("ate", "iti"),
        "u": ("ous",),
        "v": ("ive",),
        "z": ("ize",),
    }

    def _step5(self) -> None:
        if self.k == 0:
            return
        ch = self.b[self.k - 1]
        if ch == "o":
            # (m>1 and (*S or *T)) ION  |  m>1 OU — mirror the Java branch
            if self._ends("ion") and self.j >= 0 and self.b[self.j] in ("s", "t"):
                pass
            elif self._ends("ou"):
                pass
            else:
                return
        else:
            for suf in self._STEP5.get(ch, ()):
                if self._ends(suf):
                    break
            else:
                return
        if self._m() > 1:
            self.k = self.j

    def _step6(self) -> None:
        self.j = self.k
        if self.b[self.k] == "e":
            a = self._m()
            if a > 1 or (a == 1 and not self._cvc(self.k - 1)):
                self.k -= 1
        if self.b[self.k] == "l" and self._doublec(self.k) and self._m() > 1:
            self.k -= 1

    def stem_word(self, word: str) -> str:
        self.b = list(word)
        self.k = len(word) - 1
        if self.k > 1:
            self._step1()
            self._step2()
            self._step3()
            self._step4()
            self._step5()
            self._step6()
        return "".join(self.b[: self.k + 1])


_SHARED = _Porter()


def porter_stem(word: str) -> str:
    """Stem one already-lowercased ASCII token with the classic algorithm."""
    return _SHARED.stem_word(word)


def stem(word: str) -> str:
    """Full dispatch wrapper (Stemmer.java:47-73 semantics).

    trim+lowercase; empty -> empty; Greek-initial (U+0370-U+03FF) and
    non-ASCII-initial returned unchanged; ASCII-printable-initial -> Porter.
    """
    w = word.strip().lower()
    if not w:
        return w
    c = ord(w[0])
    if 0x370 <= c <= 0x3FF:
        return w
    if 0x21 <= c <= 0x7E:
        return porter_stem(w)
    return w


def stem_batch(values, memo: dict[str, str] | None = None) -> list[str]:
    """Stem a batch of words with memoization.

    Used inside the Arrow-batched stem UDF; the memo persists per batch (or
    per executor when passed in), exploiting the Zipf distribution of
    tokens.
    """
    if memo is None:
        memo = {}
    local_stem = stem
    get = memo.get

    def one(w: str) -> str:
        s = get(w)
        if s is None:
            s = local_stem(w)
            memo[w] = s
        return s

    return [one(w) for w in values]
