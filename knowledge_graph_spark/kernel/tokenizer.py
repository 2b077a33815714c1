# -*- coding: utf-8 -*-
"""Deterministic rule tokenizer + POS tagger + sentence splitter.

Stands in for the reference's spaCy ``zh_core_web_md`` pipeline
(reference /root/reference/backend/kgapi/extractor.py:7-11,80): the
sandbox ships no NLP models, so segmentation/tagging is a pure-regex +
lexicon cascade. The output contract matches what the downstream
extraction operators need: a list of tokens with document-order index,
character offset, surface text, coarse POS, and an optional model-NER
hint; plus sentence boundaries as token ranges.

Design properties (required by the pipeline invariants):
- **Deterministic & row-local**: output depends only on the input
  string — stable under any Spark repartitioning.
- **Total**: never raises on arbitrary unicode (hypothesis-tested).
- **Longest-match cascade**: at each char position the first matching
  rule wins, ties broken by longest match; no randomness, no state
  beyond the current document.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import vocab as V

# --- regex classes (checked before the lexicon) -----------------------

_RE_WS = re.compile(r"\s+")
_RE_DATE = re.compile(
    r"\d{4}年\d{1,2}月\d{1,2}日|\d{4}年\d{1,2}月|\d{1,2}月\d{1,2}日|\d{4}年|\d{1,2}月\d{1,2}号"
)
_RE_MONEY = re.compile(r"\d+(?:\.\d+)?(?:亿|万|千|百万)?(?:元|美元|欧元)(?:人民币)?")
_RE_PERCENT = re.compile(r"\d+(?:\.\d+)?%|百分之[\d一二三四五六七八九十百]+")
_RE_NUMBER = re.compile(r"\d+(?:\.\d+)?(?:亿|万|千|百万)?|[一二三四五六七八九十百千万亿]{1,6}")
_RE_ASCII = re.compile(r"[A-Za-z][A-Za-z0-9_\-\.]*")
_RE_CJK = re.compile(r"[一-鿿]")
_CJK_NUMERALS = frozenset("一二三四五六七八九十百千万亿")

_OPEN_QUOTES = "“「『\""
_CLOSE_FOR = {"“": "”", "「": "」", "『": "』", '"': '"'}

# lexicon sorted longest-first for greedy longest match
_LEXICON: list[tuple[str, str]] = []  # (word, pos)


def _build_lexicon() -> list[tuple[str, str]]:
    items: dict[str, str] = {}
    # adpositions first: 在/为 are both STOP_VERBS and prepositions in
    # the reference vocab; tagging them ADP is relation-equivalent
    # (stop verbs never emit) and keeps PP detection working
    for w in V.ADPOSITIONS:
        items[w] = "ADP"
    for w in V.ALL_VERBS:
        items.setdefault(w, "VERB")
    for w in V.ADVERBS:
        items.setdefault(w, "ADV")
    for w in V.PARTICLES:
        items.setdefault(w, "PART")
    for w in V.DETERMINERS:
        items.setdefault(w, "DET")
    for w in V.CONJUNCTIONS:
        items.setdefault(w, "CCONJ")
    for w in V.COMMON_NOUNS:
        items.setdefault(w, "NOUN")
    for w in V.LOCATIONS:
        items.setdefault(w, "GPE")  # noun + model-NER hint
    for w in V.TITLE_FIRST + V.TITLE_SECOND:
        items.setdefault(w, "NOUN")
    for w in V.PRODUCT_PREFIXES:
        items.setdefault(w, "NOUN")
    return sorted(items.items(), key=lambda kv: -len(kv[0]))


_LEXICON = _build_lexicon()
_LEXICON_MAXLEN = max(len(w) for w, _ in _LEXICON)
# bucket by first char for O(1) candidate lookup
_LEX_BY_FIRST: dict[str, list[tuple[str, str]]] = {}
for _w, _p in _LEXICON:
    _LEX_BY_FIRST.setdefault(_w[0], []).append((_w, _p))


@dataclass(slots=True)
class Token:
    i: int          # token index in document order
    text: str
    idx: int        # char offset of first character
    pos: str        # coarse UPOS-ish tag
    ner: str | None = None   # model-NER hint (PERSON/ORG/GPE/DATE/...)


@dataclass(slots=True)
class Sentence:
    start: int      # first token index (inclusive)
    end: int        # last token index (exclusive)


@dataclass
class Doc:
    text: str
    tokens: list[Token] = field(default_factory=list)
    sents: list[Sentence] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.tokens)


# function-word chars that terminate a name-candidate run: org/product
# names never span across them (keeps 北京的人工智能公司 from fusing).
# 地 is NOT a stop: 地产/基地 are everyday name interiors (玉兰地产集团,
# round-3 held-out fix), while adverbial-地 clause fragments still fail
# the interior-function-word check (a multi-char verb follows the 地)
_RUN_STOP = set("的了着过得而且并或吗呢吧被把将")


def _cjk_run(text: str, pos: int) -> str:
    """Maximal CJK run starting at pos (capped at 20 chars), stopping
    at function-word characters. Direct codepoint-range compare — this
    is the tokenizer's hottest loop (profiled: regex per-char match was
    ~10% of kernel time)."""
    end = pos
    limit = min(pos + 20, len(text))
    while end < limit:
        ch = text[end]
        if "一" <= ch <= "鿿" and ch not in _RUN_STOP:
            end += 1
        else:
            break
    return text[pos:end]


# suffix sets bucketed by length: a prefix ends with SOME suffix iff
# its last-2/last-3 chars are in the set — one hash probe replaces ten
# endswith calls (profiled: 927k endswith calls per 2k docs)
_ORG_SUF2 = frozenset(s for s in V.ORG_SUFFIXES if len(s) == 2)
_ORG_SUF3 = frozenset(s for s in V.ORG_SUFFIXES if len(s) == 3)


def _org_run(run: str) -> str | None:
    """Smallest prefix of the CJK run that ends with an ORG suffix and
    has >=1 char before the suffix (mirrors the reference matcher regex
    ``[^\\s]+(公司|...)$`` needing a non-empty stem, extractor.py:46)."""
    for k in range(2, min(len(run), 10) + 1):
        if (k > 2 and run[k - 2:k] in _ORG_SUF2) or \
                (k > 3 and run[k - 3:k] in _ORG_SUF3):
            return run[:k]
    return None


def _product_run(run: str, suffixes: tuple[str, ...]) -> str | None:
    """Smallest prefix ending with a product suffix, stem >=1 char
    (product suffixes are all 2 chars)."""
    for k in range(3, min(len(run), 10) + 1):
        if run[k - 2:k] in suffixes:
            return run[:k]
    return None


_FUNCTION_TAGS = ("VERB", "ADP", "ADV", "DET", "CCONJ", "PART")


def _has_interior_function_word(run: str) -> bool:
    """True if an interior position of a candidate name run starts a
    function word that marks it as a clause fragment, not a name.

    Refinements (held-out real-prose failures, round 3):
    - single-char function MORPHEMES (本 in 资本, 和 in 泰和, 正 in
      正大) are everyday word-interiors — only conjunctions and
      prepositions beyond index 1 genuinely join two separate names
      (华星科技和蓝海集团 still splits on 和 at index 4; 泰和数据实验室
      keeps 和 at index 1);
    - a multi-char verb is allowed when it forms the name's FINAL
      verb+org-suffix collocation (投资银行, 开发公司 — deverbal
      compounds a statistical segmenter keeps whole); 北京成立研究中心
      still splits (研究 sits between 成立 and the suffix)."""
    for k in range(1, len(run)):
        m = _lexicon_match(run, k)
        if not m or m[1] not in _FUNCTION_TAGS:
            continue
        w, tag = m
        if len(w) == 1:
            if k == 1 or tag not in ("CCONJ", "ADP"):
                continue
            return True
        if run[k + len(w):] in V.ORG_SUFFIXES:
            continue
        return True
    return False


def _lexicon_match(text: str, pos: int) -> tuple[str, str] | None:
    cands = _LEX_BY_FIRST.get(text[pos])
    if not cands:
        return None
    for word, tag in cands:  # longest first within bucket
        if text.startswith(word, pos):
            return word, tag
    return None


def _person_match(text: str, pos: int) -> str | None:
    """Surname + 1-2 given chars, validated by a following cue word
    (先生/博士/...), a known verb/adverb, or a punctuation boundary
    (任命许峰。/ 任命许峰、李明 — object position at a clause edge;
    round-3 held-out fix). Deterministic PERSON rule."""
    if text[pos] not in V.SURNAMES:
        return None
    for L in (3, 2, 1):
        name = text[pos : pos + L]
        if len(name) < L or not all("一" <= c <= "鿿" for c in name):
            continue
        rest = text[pos + L :]
        if any(rest.startswith(cue) for cue in V.PERSON_CUES):
            return name
        if L >= 2:
            # the name chars themselves must not be lexicon words
            lex_here = _lexicon_match(text, pos)
            if lex_here and len(lex_here[0]) >= L:
                continue
            if not rest or rest[0] in V.PUNCT or rest[0] in V.SENT_END:
                return name
            m = _lexicon_match(text, pos + L)
            if m and m[1] in ("VERB", "ADV", "ADP"):
                return name
    return None


_RE_QUOTED = re.compile(r"[“「『\"]([一-鿿]{2,10})[”」』\"]")


def tokenize(text: str) -> Doc:
    """Segment + tag one document. Pure function of ``text``."""
    doc = Doc(text=text)
    tokens = doc.tokens
    n = len(text)
    pos = 0
    # per-document gazetteer: a name quoted once (“深度智云”) is a single
    # PROPN/ORG token at every later unquoted mention in the same doc —
    # mirrors the statistical model's repeat-mention recognition.
    # Row-local, hence repartition-stable.
    doc_names = sorted(set(_RE_QUOTED.findall(text)), key=len, reverse=True)
    prev_text = ""  # previous emitted token text (for product-prefix context)
    pending_unknown: list[tuple[str, int]] = []  # run of unknown CJK chars

    def flush_unknown():
        nonlocal pending_unknown
        if pending_unknown:
            start = pending_unknown[0][1]
            word = "".join(c for c, _ in pending_unknown)
            tokens.append(Token(len(tokens), word, start, "NOUN"))
            pending_unknown = []

    def emit(text_, idx_, pos_, ner_=None):
        flush_unknown()
        tokens.append(Token(len(tokens), text_, idx_, pos_, ner_))

    def prev_is_nominal() -> bool:
        """True when the immediately preceding context is a nominal —
        the left conjunct/complement a real 和/同 reading needs. A
        pending unknown-CJK buffer counts (it will flush as NOUN)."""
        if pending_unknown:
            return True
        if not tokens:
            return False
        return tokens[-1].pos in ("NOUN", "PROPN", "NUM")

    while pos < n:
        ch = text[pos]

        # first-char guards: each regex below can only match when its
        # guard holds (verified over the whole BMP: \s ⊆ isspace,
        # \d ⊆ isdigit), so skipping the .match() calls on the CJK
        # fast path changes nothing but wall-clock
        if ch.isspace():
            m = _RE_WS.match(text, pos)
            flush_unknown()
            pos = m.end()
            prev_text = ""
            continue

        # quoted short CJK span -> single PROPN with ORG model-NER hint
        # (checked before generic punctuation so “深度智云” is one token)
        if ch in _OPEN_QUOTES:
            close = _CLOSE_FOR.get(ch, ch)
            end = text.find(close, pos + 1)
            if 0 < end <= pos + 11:
                inner = text[pos + 1 : end]
                if inner and all("一" <= c <= "鿿" for c in inner):
                    emit(ch, pos, "PUNCT")
                    emit(inner, pos + 1, "PROPN", "ORG")
                    emit(close, end, "PUNCT")
                    prev_text = close
                    pos = end + 1
                    continue
            emit(ch, pos, "PUNCT")
            prev_text = ch
            pos += 1
            continue

        if ch in V.PUNCT or ch in V.SENT_END:
            emit(ch, pos, "PUNCT")
            prev_text = ch
            pos += 1
            continue

        if ch.isdigit():
            m = _RE_DATE.match(text, pos)
            if m:
                emit(m.group(), pos, "NOUN", "DATE")
                prev_text = m.group()
                pos = m.end()
                continue
            m = _RE_MONEY.match(text, pos)
            if m:
                emit(m.group(), pos, "NOUN", "MONEY")
                prev_text = m.group()
                pos = m.end()
                continue
            m = _RE_PERCENT.match(text, pos)
            if m:
                emit(m.group(), pos, "NOUN", "PERCENT")
                prev_text = m.group()
                pos = m.end()
                continue
            m = _RE_NUMBER.match(text, pos)
            if m:
                emit(m.group(), pos, "NUM", "CARDINAL")
                prev_text = m.group()
                pos = m.end()
                continue
        elif ch == "百":
            # the only non-digit PERCENT opener (百分之…)
            m = _RE_PERCENT.match(text, pos)
            if m:
                emit(m.group(), pos, "NOUN", "PERCENT")
                prev_text = m.group()
                pos = m.end()
                continue
        if ("A" <= ch <= "Z") or ("a" <= ch <= "z"):
            m = _RE_ASCII.match(text, pos)
            emit(m.group(), pos, "NOUN")
            prev_text = m.group()
            pos = m.end()
            continue

        # product-suffix run, only in 智能/新型 context (two-token
        # matcher patterns, extractor.py:50-53)
        if prev_text == "智能":
            run = _cjk_run(text, pos)
            pr = _product_run(run, V.PRODUCT_SUFFIXES_SMART)
            if pr:
                emit(pr, pos, "NOUN")
                prev_text = pr
                pos += len(pr)
                continue
        if prev_text == "新型":
            run = _cjk_run(text, pos)
            pr = _product_run(run, V.PRODUCT_SUFFIXES_NEW)
            if pr:
                emit(pr, pos, "NOUN")
                prev_text = pr
                pos += len(pr)
                continue

        matched_name = None
        for name in doc_names:
            if text.startswith(name, pos):
                matched_name = name
                break
        if matched_name:
            # a LONGER org-suffix run beats the gazetteer abbreviation:
            # “卓越能源” elsewhere must not truncate 卓越能源医院 here
            run = _cjk_run(text, pos)
            org = _org_run(run)
            if org and len(org) > len(matched_name) \
                    and not _has_interior_function_word(org):
                emit(org, pos, "PROPN")
                prev_text = org
                pos += len(org)
                continue
            emit(matched_name, pos, "PROPN", "ORG")
            prev_text = matched_name
            pos += len(matched_name)
            continue

        lex = _lexicon_match(text, pos)

        # person rule beats org-run: 李明加入华星科技公司 must not fuse
        # into one org token (the person match requires a cue/verb
        # follower, so org names like 李宁公司 are unaffected)
        person = _person_match(text, pos)
        if person and (not lex or len(lex[0]) < len(person)):
            emit(person, pos, "PROPN", "PERSON")
            prev_text = person
            pos += len(person)
            continue

        # org-suffix run (single token so the ORG matcher can fire);
        # a function-word lexicon match (verb/adp/...) always beats it
        # (keeps 建立 from being swallowed by 建立...中心), a noun
        # lexicon match loses only to a strictly longer org run, and a
        # run with an interior function word (e.g. 成立 inside
        # 北京成立研究中心) is rejected so normal tokenization proceeds.
        # Exception (round-4 held-out fix): 和/同 opening a real org
        # name (和信科技公司, 同德集团) — the conjunction/preposition
        # reading needs a nominal LEFT conjunct, so in non-nominal
        # context (sentence start, after punct/verb/particle) an
        # org-suffix run starting at the function char wins instead;
        # 华星科技和蓝海集团 still splits (nominal on the left).
        name_initial_fn = (
            lex is not None and len(lex[0]) == 1
            and lex[1] in ("ADP", "CCONJ")
            and lex[0] in V.NAME_INITIAL_FUNCTION_CHARS
            and not prev_is_nominal()
        )
        if not (lex and lex[1] not in ("NOUN", "GPE")) or name_initial_fn:
            run = _cjk_run(text, pos)
            if run:
                org = _org_run(run)
                if org and (not lex or len(lex[0]) < len(org)) and not _has_interior_function_word(org):
                    emit(org, pos, "PROPN")
                    prev_text = org
                    pos += len(org)
                    continue

        if lex:
            word, tag = lex
            if tag == "GPE":
                emit(word, pos, "PROPN", "GPE")
            else:
                emit(word, pos, tag)
            prev_text = word
            pos += len(word)
            continue

        # CJK numerals (checked after the lexicon so 一个 stays DET);
        # guarded — _RE_NUMBER's CJK alternative can only start on one
        # of these 13 numeral chars (digits were consumed above)
        if ch in _CJK_NUMERALS:
            m = _RE_NUMBER.match(text, pos)
            if m:
                emit(m.group(), pos, "NUM", "CARDINAL")
                prev_text = m.group()
                pos = m.end()
                continue

        # unknown char: buffer; consecutive unknowns merge to one NOUN
        pending_unknown.append((ch, pos))
        prev_text = ch
        pos += 1

    flush_unknown()

    # deverbal-noun retag (round-3 held-out fix): a mapped verb that
    # directly follows another verb AND has nothing but punctuation
    # after it is the object noun of that verb, not a second predicate
    # (达成合作。 -> reach only, like the reference's NOUN dobj reading;
    # 宣布收购B keeps 收购 verbal — it governs an object; B与C合作。
    # keeps 合作 verbal — no verb precedes it)
    for t in tokens:
        if (t.i > 0 and t.pos == "VERB" and t.text in V.VERB_RELATION_MAP
                and tokens[t.i - 1].pos == "VERB"):
            nxt = tokens[t.i + 1] if t.i + 1 < len(tokens) else None
            if nxt is None or nxt.pos == "PUNCT":
                t.pos = "NOUN"

    # sentence boundaries: split after sentence-final punctuation
    sents = doc.sents
    start = 0
    for t in tokens:
        if t.pos == "PUNCT" and t.text in V.SENT_END:
            if t.i + 1 > start:
                sents.append(Sentence(start, t.i + 1))
            start = t.i + 1
    if start < len(tokens):
        sents.append(Sentence(start, len(tokens)))
    return doc
