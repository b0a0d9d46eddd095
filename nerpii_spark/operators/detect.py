"""S2 — vectorized mention detection (the core op, SURVEY.md O10).

Arrow-batched ``mapInPandas`` scan producing the long `mentions` table

    (id cols..., sid, entity_type, mention, begin, end, score, detector,
     m_works, m_lives, m_in)

Detector suite = deterministic stand-ins for the reference's engines
(models are unavailable in the sandbox; the `detector` column records
provenance, SURVEY.md §7 hard-part (d)):

  * structural regexes — Presidio built-ins (EMAIL/PHONE/URL/US_SSN/
    CREDIT_CARD with Luhn validation/ZIPCODE)
  * the reference's exact 25-term ADDRESS deny list
    (named_entity_recognizer.py:115-141)
  * gazetteer PERSON / LOCATION (stand-in for spaCy,
    named_entity_recognizer.py:331-341)
  * pattern ORGANIZATION with BIO tags (stand-in for dslim/bert-base-NER,
    named_entity_recognizer.py:398-405)

All regexes are compiled once per executor process at module import
(per-executor singleton — never pickled through closures, SURVEY.md §4.5).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import gazetteers as G
from ..sources.pages import luhn_valid

# split at sentence-final punctuation, but never after a middle initial
# ("James Q. Smith" — the fixed-width lookbehind rejects "<space><cap>.");
# the lookbehinds sit behind the first whitespace so `re` can scan for it
SENT_SPLIT = re.compile(r"\s(?<=[.!?]\s)(?<!\s[A-Z]\.\s)\s*")


def _alt(words: list[str]) -> str:
    return "|".join(re.escape(w) for w in sorted(words, key=len, reverse=True))


def _trie_alt(words: list[str]) -> str:
    """Character-trie form of `_alt`: matches EXACTLY the same set with
    the same leftmost-longest span (at each node, child branches are
    tried before the end-of-word marker, mirroring the length-desc sort),
    but common prefixes are merged so the `re` engine never re-scans
    them per branch. Measured 1.6-2.5x on the gazetteer detectors over
    the bench corpus with zero span mismatches across 8k docs."""
    root: dict = {}
    for w in words:
        node = root
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}
    def emit(node: dict) -> str:
        end = "" in node
        alts = [
            re.escape(k) + emit(node[k])
            for k in sorted(k for k in node if k != "")
        ]
        if not alts:
            return ""
        body = "|".join(alts)
        if end:
            return "(?:" + body + ")?"
        return alts[0] if len(alts) == 1 else "(?:" + body + ")"
    return "(?:" + emit(root) + ")"


def _word_alt(words: list[str], extra: dict[str, str] | None = None) -> str:
    r"""`\b(?:_alt(words))\b` as one branch per first character, each
    starting with that literal so `re` can skip straight to candidate
    positions (a leading `\b` or lookbehind turns off its first-character
    scan). The leading `\b` moves behind the head it guards: after a word
    character `X`, `(?<!\w[\s\S])` (nothing wordy before it); after a
    non-word head, `(?<=\w[\s\S])`. The rest of the head's words is a
    `_trie_alt`, so every span is the same as the plain alternation's.
    `extra` maps a head character to a raw tail tried after that head's
    words with no boundary assertions: `{"C": "/"}` appends `|C/`."""
    if "" in words:
        raise ValueError("gazetteer terms must be non-empty")
    extra = extra or {}
    groups: dict[str, list[str]] = {}
    for w in words:
        groups.setdefault(w[0], []).append(w[1:])
    branches = []
    for head in sorted(groups.keys() | extra.keys()):
        tails = []
        if head in groups:
            look = "(?<!" if re.match(r"\w", head) else "(?<="
            tails.append(rf"{look}\w[\s\S]){_trie_alt(groups[head])}\b")
        if head in extra:
            tails.append(extra[head])
        body = tails[0] if len(tails) == 1 else "(?:" + "|".join(tails) + ")"
        branches.append(re.escape(head) + body)
    return "(?:" + "|".join(branches) + ")"


# Every built-in pattern starts with a literal or a character class, with
# each boundary assertion moved behind the first character it guards:
# `\d(?<![\d-]\d)` is `(?<![\d-])\d`, but lets `re` scan for a digit
# first instead of attempting a match at every position.

# --- structural recognizers (Presidio-style) -------------------------------
RE_EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
RE_URL = re.compile(r"https?://[^\s<>\"']+")
RE_PHONE = re.compile(
    r"[(\d](?:(?<=\()\d{3}\) \d{3}-\d{4}"
    r"|(?<=\d)(?<![\d-]\d)\d{2}-\d{3}-\d{4}(?![\d-]))"
)
RE_SSN = re.compile(r"\d(?<![\d-]\d)\d{2}-\d{2}-\d{4}(?![\d-])")
RE_CARD = re.compile(r"\d(?<![\d-]\d)\d{12,15}(?![\d-])")
RE_ZIP = re.compile(r"\d(?<![\d/.-]\d)\d{4}(?![\d-])")

# --- gazetteer recognizers (spaCy stand-ins) --------------------------------
_FIRSTS = G.FIRST_NAMES + [n.upper() for n in G.FIRST_NAMES]
# optional middle initial between first and last name ("James Q. Smith")
_PERSON_TAIL = r" (?:[A-Z]\. )?[A-Z][a-z]+\b"
RE_PERSON = re.compile(_word_alt(_FIRSTS) + _PERSON_TAIL)
# one trie for names and state abbreviations: every name is longer than
# the 2-letter abbreviations, so at a shared start the name still wins
RE_LOC = re.compile(_word_alt(G.CITIES + G.STATES + G.COUNTRIES + G.STATE_ABBR))

# --- pattern ORGANIZATION (BERT stand-in) -----------------------------------
RE_ORG = re.compile(
    rf"[A-Z](?<!\w[\s\S])(?:[a-z]+ {_trie_alt(G.ORG_SUFFIXES)}\b"
    r"|(?<=U)niversity of [A-Z][a-z]+\b)"
)

# --- the reference's deny-list ADDRESS recognizer ---------------------------
_DENY_WORDS = [w for w in G.ADDRESS_DENY_LIST if w != "C/"]
_DENY_EXTRA = {"C": "/"}  # 'C/' matches bare, without word boundaries
RE_ADDRESS = re.compile(_word_alt(_DENY_WORDS, _DENY_EXTRA))

# --- detector registry ------------------------------------------------------
# A detector is DATA: (entity_type, matcher, score, detector_name,
# needs_luhn[, guard]) where `matcher` is one of
#   * a regex (re.Pattern) or pattern string (compiled lazily
#     executor-side) — the vectorizable fast path;
#   * a zero-arg FACTORY returning a span function
#     `fn(segment: str) -> iterable[(start, end)]` — the model seam:
#     the factory runs ONCE PER EXECUTOR PYTHON PROCESS (cached by
#     detector name, never pickled pre-built), which is exactly how a
#     real Presidio AnalyzerEngine / spaCy nlp / HF pipeline must be
#     held (load the weights per worker, ship only the recipe).
# The optional `guard` names a cheap per-segment necessary condition
# ('at' = contains '@', 'http', 'dig' = contains a digit, 'up' =
# contains an uppercase letter) that lets scan_text skip the matcher
# entirely on segments that cannot match — measured 1.25x on the fused
# e2e scan with byte-identical output.
# The analyzer is BUILT from registrations —
# the seam the reference exposes via set_presidio_analyzer(
# add_addresses_recognizer, additional_addresses) and set_model
# (named_entity_recognizer.py:343-405): swapping in a real Presidio/spaCy/
# HF engine (or a user's custom recognizer) is a registration, not a
# module edit.

DetectorSpec = tuple  # (entity_type, re.Pattern | str | factory, float, str, bool)

# per-executor-process cache of constructed callable matchers, keyed by
# (detector name, factory module, factory qualname) — name uniqueness
# per registry is validated in compile_detectors; the factory identity
# fields guard against worker-reuse serving a stale matcher after a
# model is re-registered under the same name (see scan_text). A model
# VERSION change must come with a new detector name or a new factory
# function — that convention is part of the registry contract.
_MATCHER_CACHE: dict[tuple, object] = {}


def build_detectors(
    lang: str = "en",
    add_addresses_recognizer: bool = True,
    additional_addresses: list[str] | tuple[str, ...] = (),
    extra: list[DetectorSpec] | tuple[DetectorSpec, ...] = (),
) -> list[DetectorSpec]:
    """Construct the analyzer's detector list.

    Mirrors the reference's engine construction branch by branch:
    structural Presidio built-ins (language-neutral), the optional
    deny-list ADDRESS recognizer with user-supplied additional terms
    (named_entity_recognizer.py:97-147,343-357), per-lang gazetteer
    PERSON/LOCATION (en_core_web_lg vs it_core_news_lg, :359-376), the
    per-lang ORG model stand-in (dslim/bert-base-NER vs
    osiria/bert-italian-uncased-ner, :387-405), and `extra` custom
    registrations appended last (analyzer.registry.add_recognizer) —
    regex specs OR callable-backed model specs (a zero-arg factory
    returning fn(segment) -> [(start, end)], constructed once per
    executor; see the registry comment), so a real Presidio/spaCy/HF
    engine rides the same seam as the stand-ins."""
    dets: list[DetectorSpec] = [
        ("EMAIL_ADDRESS", RE_EMAIL, 1.0, "regex_email", False, "at"),
        ("URL", RE_URL, 0.5, "regex_url", False, "http"),
        ("PHONE_NUMBER", RE_PHONE, 0.75, "regex_phone", False, "dig"),
        ("US_SSN", RE_SSN, 0.85, "regex_ssn", False, "dig"),
        ("CREDIT_CARD_NUMBER", RE_CARD, 1.0, "regex_luhn", True, "dig"),
        ("ZIPCODE", RE_ZIP, 0.6, "regex_zip", False, "dig"),
    ]
    if add_addresses_recognizer:
        rx = (
            RE_ADDRESS
            if not additional_addresses
            else _word_alt(_DENY_WORDS + list(additional_addresses), _DENY_EXTRA)
        )
        # every built-in deny term is capitalized ('C/' incl.), so 'up'
        # is a necessary condition unless a user-added term is lowercase
        guard = (
            "up"
            if all(w != w.lower() for w in additional_addresses)
            else None
        )
        dets.append(("ADDRESS", rx, 1.0, "denylist_address", False, guard))
    if lang == "it":
        firsts = G.IT_FIRST_NAMES + [n.upper() for n in G.IT_FIRST_NAMES]
        rx_person = _word_alt(firsts) + _PERSON_TAIL
        rx_loc = _word_alt(G.IT_CITIES + G.COUNTRIES)
        dets.append(
            ("PERSON", rx_person, 0.85, "gazetteer_person_it", False, "up")
        )
        dets.append(
            ("LOCATION", rx_loc, 0.85, "gazetteer_location_it", False, "up")
        )
        dets.append(("ORGANIZATION", RE_ORG, 0.8, "pattern_org_it", False, "up"))
    else:
        dets.append(("PERSON", RE_PERSON, 0.85, "gazetteer_person", False, "up"))
        dets.append(
            ("LOCATION", RE_LOC, 0.85, "gazetteer_location", False, "up")
        )
        dets.append(("ORGANIZATION", RE_ORG, 0.8, "pattern_org", False, "up"))
    dets.extend(extra)
    return dets


VALID_GUARDS = ("at", "http", "dig", "up", None)
_HAS_DIGIT = re.compile(r"\d")


def compile_detectors(dets: list[DetectorSpec]) -> list[DetectorSpec]:
    """Compile pattern strings; normalize 5-tuples (no guard) to 6.
    Validates guard tags and matcher types so a typo'd registration
    fails fast with a clear message instead of a KeyError deep inside an
    executor task (detect_mentions also runs this once driver-side for
    that reason). Callable matchers (factories) are passed through
    UNCALLED — construction happens lazily executor-side (scan_text's
    _MATCHER_CACHE), so a heavyweight model is never built on the
    driver nor pickled."""
    out = []
    names = set()
    for d in dets:
        e, p, s, n, luhn = d[:5]
        guard = d[5] if len(d) > 5 else None
        if guard not in VALID_GUARDS:
            raise ValueError(
                f"detector {n!r} ({e}): unknown guard {guard!r};"
                f" valid guards: {VALID_GUARDS}"
            )
        if not isinstance(p, (str, re.Pattern)) and not callable(p):
            raise ValueError(
                f"detector {n!r} ({e}): matcher must be a regex, a"
                " pattern string, or a zero-arg factory returning"
                f" fn(segment) -> [(start, end)]; got {type(p).__name__}"
            )
        if callable(p) and not isinstance(p, re.Pattern) and n in names:
            raise ValueError(
                f"detector name {n!r} is not unique — callable matchers"
                " are cached per executor by name"
            )
        names.add(n)
        out.append(
            (e, re.compile(p) if isinstance(p, str) else p, s, n, luhn, guard)
        )
    return out


# the default analyzer (en, addresses on) — identical to round-1 behavior
PAGE_DETECTORS = build_detectors()

# tabular mode stage split, mirroring the reference pipeline order
# (presidio stage excludes ORG + ZIPCODE: ZIPCODE exists only as a
# column-name rule, named_entity_recognizer.py:538-546; ORG only via the
# model stage, :491-521)
PRESIDIO_STAGE = [d for d in PAGE_DETECTORS if d[0] not in ("ORGANIZATION", "ZIPCODE")]
MODEL_STAGE = [d for d in PAGE_DETECTORS if d[0] == "ORGANIZATION"]

MENTION_FIELDS = (
    "sid int, entity_type string, mention string, begin bigint, end bigint,"
    " score double, detector string, m_works boolean, m_lives boolean,"
    " m_in boolean"
)


def _segments(text: str) -> list[tuple[int, str]]:
    """(start offset, text) of each SENT_SPLIT segment, from one finditer
    pass. An empty last segment (the text ends in a separator) starts
    where that separator does."""
    out = []
    b = sep = 0
    for m in SENT_SPLIT.finditer(text):
        sep = m.start()
        out.append((b, text[b:sep]))
        b = m.end()
    out.append((b if b < len(text) else sep, text[b:]))
    return out


def scan_text(text: str, detectors: list[DetectorSpec] | None = None) -> list[tuple]:
    """All mentions in one document text. Returns tuples matching
    MENTION_FIELDS order. `detectors` must be pre-compiled (regex
    objects; 6-tuples with guard); defaults to the en analyzer.

    Per-segment guards (substring/charclass necessary conditions) skip
    regexes that cannot match — measured 1.25x on the fused e2e scan,
    byte-identical output (guards are implied by the patterns). Each is
    checked inline when its detector comes up; the digit probe runs at
    most once per segment, and only if a 'dig' detector is reached."""
    dets = PAGE_DETECTORS if detectors is None else detectors
    out = []
    for sid, (start, seg) in enumerate(_segments(text)):
        # islower() is False when ANY uppercase cased char exists or
        # when there are no cased chars at all — conservative either way
        no_up = seg.islower()
        dig = None
        m_works = " works at " in seg
        m_lives = " lives at " in seg
        m_in = " in " in seg
        for etype, rx, score, det, needs_luhn, guard in dets:
            if guard == "up":
                if no_up:
                    continue
            elif guard == "dig":
                if dig is None:
                    # C-level regex search: a python-level any(isdigit)
                    # was 87% of scan time on mention-sparse segments
                    dig = _HAS_DIGIT.search(seg) is not None
                if not dig:
                    continue
            elif guard == "at":
                if "@" not in seg:
                    continue
            elif guard == "http":
                if "http" not in seg:
                    continue
            if isinstance(rx, re.Pattern):  # hot path
                for m in rx.finditer(seg):
                    if needs_luhn and not luhn_valid(m.group(0)):
                        continue
                    out.append(
                        (sid, etype, m.group(0), start + m.start(),
                         start + m.end(), score, det, m_works, m_lives, m_in)
                    )
            else:
                # model seam: rx is a zero-arg factory; the constructed
                # matcher lives once per executor Python process.
                # Cache key = (detector name, factory identity): worker
                # reuse (spark.python.worker.reuse) keeps this dict
                # alive ACROSS jobs, so name alone would silently serve
                # a stale matcher after the user re-registers a changed
                # model under the same name. The qualname/module pair
                # catches the realistic case (factory_v1 vs factory_v2
                # are different functions); re-DEFINING the same
                # function name with new behavior is not detectable
                # from here — the documented convention is that the
                # detector NAME identifies the model version.
                ck = (
                    det,
                    getattr(rx, "__module__", None),
                    getattr(rx, "__qualname__", repr(type(rx))),
                )
                fn = _MATCHER_CACHE.get(ck)
                if fn is None:
                    fn = _MATCHER_CACHE.setdefault(ck, rx())
                for ms, me in fn(seg):
                    mtext = seg[ms:me]
                    if needs_luhn and not luhn_valid(mtext):
                        continue
                    out.append(
                        (sid, etype, mtext, start + ms, start + me,
                         score, det, m_works, m_lives, m_in)
                    )
    return out


def detect_mentions(
    clean_pages: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id", "url", "lang"),
    text_col: str = "text",
    detectors: list[DetectorSpec] | None = None,
) -> DataFrame:
    """clean_pages -> mentions (long). One Arrow batch in, many mention
    rows out; no state crosses batches. `detectors` (from
    build_detectors) customizes the analyzer — specs with string
    patterns compile once per partition inside the executor."""
    id_cols = [c for c in id_cols if c in clean_pages.columns]
    schema = (
        ", ".join(f"{c} {clean_pages.schema[c].dataType.simpleString()}" for c in id_cols)
        + ", " + MENTION_FIELDS
    )
    cols = [*id_cols, text_col]

    out_cols = [
        "sid", "entity_type", "mention", "begin", "end", "score",
        "detector", "m_works", "m_lives", "m_in",
    ]

    specs = detectors  # capture specs, compile executor-side
    if specs is not None:
        compile_detectors(specs)  # driver-side validation (fail fast)

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # columnar assembly: building per-column lists and one dict-of-lists
        # DataFrame is several times cheaper than DataFrame-from-row-tuples
        # (this closure is the hottest Python in the engine)
        cdets = compile_detectors(specs) if specs is not None else None
        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in (*id_cols, *out_cols)}
            ids = pdf[id_cols].itertuples(index=False, name=None)
            for id_vals, text in zip(ids, pdf[text_col].tolist()):
                if not text:
                    continue
                mts = scan_text(text, cdets)
                if not mts:
                    continue
                for c, v in zip(id_cols, id_vals):
                    cols[c].extend([v] * len(mts))
                for j, c in enumerate(out_cols):
                    col = cols[c]
                    for mt in mts:
                        col.append(mt[j])
            yield pd.DataFrame(cols)

    return clean_pages.select(*cols).mapInPandas(scan_batches, schema=schema)
