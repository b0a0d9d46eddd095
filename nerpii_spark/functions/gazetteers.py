"""Frozen gazetteers.

These lists back (a) the deterministic planted-page corpus, (b) the
gazetteer detectors (the sandbox stand-in for the reference's
spaCy/Presidio/BERT models — see ``named_entity_recognizer.py:331-341,
398-405``), and (c) the keyed synthesizers (the stand-in for Faker
providers, ``faker_generator.py:84-87``).

DO NOT reorder or edit entries: golden fixtures, DuckDB oracles and the
pytest goldens all derive from the exact contents + order.
"""

from __future__ import annotations

FIRST_FEMALE = [
    "Hillary", "Alice", "Clara", "Diana", "Elena", "Fiona", "Grace", "Helen",
    "Irene", "Julia", "Karen", "Laura", "Maria", "Nina", "Olivia", "Paula",
    "Rachel", "Sofia", "Teresa", "Ursula", "Vera", "Wendy", "Yvonne", "Zoe",
]

FIRST_MALE = [
    "George", "John", "Frank", "Adam", "Bruno", "Carl", "David", "Edward",
    "Felix", "Henry", "Isaac", "James", "Kevin", "Louis", "Martin", "Nathan",
    "Oscar", "Peter", "Robert", "Samuel", "Thomas", "Victor", "Walter", "Simon",
]

FIRST_NAMES = FIRST_FEMALE + FIRST_MALE

LAST_NAMES = [
    "Bush", "Clinton", "Snow", "Baker", "Carter", "Dalton", "Evans", "Fisher",
    "Garner", "Holt", "Ingram", "Jensen", "Keller", "Lambert", "Mason",
    "Norris", "Osborne", "Parker", "Quinn", "Reyes", "Sawyer", "Turner",
    "Underwood", "Vaughn", "Walsh", "Young", "Ziegler", "Bennett", "Coleman",
    "Dawson", "Ellis", "Foster", "Griffin", "Hayes", "Irwin", "Jordan",
    "Kemp", "Lawson", "Mercer", "Nolan",
]

CITIES = [
    "New York", "Chicago", "Phoenix", "London", "Paris", "Berlin", "Madrid",
    "Rome", "Lisbon", "Vienna", "Dublin", "Prague", "Oslo", "Helsinki",
    "Athens", "Toronto", "Boston", "Seattle", "Denver", "Austin", "Portland",
    "Atlanta", "Dallas", "Houston", "Miami", "Tucson", "Omaha", "Memphis",
    "Los Angeles", "San Francisco", "New Orleans", "Salt Lake City",
]

STATES = [
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "Florida", "Georgia", "Hawaii", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky", "Louisiana", "Maine",
    "Maryland", "Massachusetts", "Michigan", "Minnesota", "Mississippi",
    "Missouri", "Montana", "Nebraska", "Nevada", "New Hampshire",
    "New Jersey", "New Mexico", "North Carolina", "North Dakota", "Ohio",
    "Oklahoma", "Oregon", "Pennsylvania", "Rhode Island", "South Carolina",
    "South Dakota", "Tennessee", "Texas", "Utah", "Vermont", "Virginia",
    "Washington", "West Virginia", "Wisconsin", "Wyoming", "New York State",
]

STATE_ABBR = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID",
    "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NC", "ND", "OH", "OK", "OR",
    "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI",
    "WY", "NY",
]

COUNTRIES = [
    "France", "Germany", "Italy", "Spain", "Portugal", "Austria", "Belgium",
    "Norway", "Sweden", "Finland", "Denmark", "Ireland", "Poland", "Greece",
    "Canada", "Mexico", "Brazil", "Argentina", "Japan", "India", "Egypt",
    "Kenya", "Chile", "Peru",
]

ORG_WORDS = [
    "Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Cyberdyne",
    "Tyrell", "Aperture", "Vandelay", "Hooli", "Dunder", "Wonka", "Oscorp",
    "Monarch", "Sterling", "Pied", "Massive", "Virtucon", "Zorg",
    "Gringotts", "Prestige", "Vertex", "Quantum", "Apex", "Zenith", "Orion",
    "Nimbus", "Cascade", "Summit", "Pinnacle", "Horizon",
]

ORG_SUFFIXES = ["Corp", "Inc", "LLC", "Ltd", "Group", "Labs", "Systems", "Industries"]

STREET_WORDS = [
    "Evergreen", "Maple", "Oak", "Cedar", "Elm", "Pine", "Birch", "Walnut",
    "Chestnut", "Spruce", "Willow", "Aspen", "Magnolia", "Juniper", "Hickory",
    "Sycamore", "Poplar", "Laurel", "Hazel", "Alder", "Linden", "Rowan",
    "Cypress", "Redwood",
]

STREET_TYPES = ["Street", "Avenue", "Road", "Boulevard", "Lane", "Square"]

EMAIL_DOMAINS = [
    "example.com", "mail.test", "inbox.example", "webmail.example",
    "post.example", "letter.example", "msg.example", "box.example",
]

# The reference's exact 25-term ADDRESS deny list
# (named_entity_recognizer.py:115-141).
ADDRESS_DENY_LIST = [
    "Street", "Rue", "Via", "Square", "Avenue", "Place", "Strada", "St",
    "Lane", "Road", "Boulevard", "Ln", "Rd", "HighwayDrive", "Av", "Hwy",
    "Blvd", "Corso", "Piazza", "Calle", "Plaza", "Avenida", "Rambla",
    "Vico", "C/",
]

# gender lookup (the deterministic stand-in for gender_guesser,
# named_entity_recognizer.py:203-231); "andy" = androgynous, like the lib.
# mostly_* are gender_guesser's soft categories the reference consumes
# (faker_generator.py:198-258).
GENDER_ANDY = ["Alex", "Robin", "Casey", "Jordan"]
GENDER_MOSTLY_FEMALE = ["Kim", "Kelly", "Sasha", "Jody"]
GENDER_MOSTLY_MALE = ["Terry", "Pat", "Noel", "Sidney"]


# ---------------------------------------------------------------------------
# Italian locale (reference lang='it': Faker(['it_IT']) faker_generator.py:85,
# it spaCy/Presidio engine named_entity_recognizer.py:359-376). These lists
# back the it-locale synthesizers and the it gazetteer detectors; they are
# additive — nothing above may change.
# ---------------------------------------------------------------------------

IT_FIRST_FEMALE = [
    "Giulia", "Sofia", "Chiara", "Martina", "Francesca", "Alessia",
    "Valentina", "Silvia", "Federica", "Elisa", "Beatrice", "Camilla",
]

IT_FIRST_MALE = [
    "Marco", "Luca", "Giovanni", "Andrea", "Alessandro", "Matteo",
    "Davide", "Simone", "Federico", "Riccardo", "Stefano", "Paolo",
]

IT_FIRST_NAMES = IT_FIRST_FEMALE + IT_FIRST_MALE

IT_LAST_NAMES = [
    "Rossi", "Russo", "Ferrari", "Esposito", "Bianchi", "Romano",
    "Colombo", "Ricci", "Marino", "Greco", "Bruno", "Gallo", "Conti",
    "Mancini", "Costa", "Giordano", "Rizzo", "Lombardi", "Moretti",
    "Barbieri",
]

IT_CITIES = [
    "Roma", "Milano", "Napoli", "Torino", "Palermo", "Genova", "Bologna",
    "Firenze", "Bari", "Catania", "Venezia", "Verona", "Padova", "Trieste",
    "Brescia", "Taranto",
]

IT_STREET_WORDS = [
    "Garibaldi", "Mazzini", "Cavour", "Dante", "Verdi", "Marconi",
    "Galilei", "Leopardi", "Manzoni", "Petrarca", "Vespucci", "Alighieri",
]

# Italian street designators lead the address ("Via Garibaldi 42"); all
# five are already terms of the frozen ADDRESS_DENY_LIST above, so masked
# Italian addresses stay detectable by the deny-list recognizer.
IT_STREET_TYPES = ["Via", "Corso", "Piazza", "Strada", "Vico"]


# small per-language stopword lists for the lang-id heuristic / quality
# scoring over `documents` (training-data-pipeline extras).
# 12 languages (r3 widened from 6 — the O(L) lang_id_sql rewrite makes
# the marginal language two scalar expressions; VERDICT r2 #8). Lists
# are the highest-frequency function words of each language, ASCII-
# romanized where the orthography needs it (zh pinyin, pl/tr diacritics
# stripped) so tokenization stays byte-identical across engines.
# Extending further is additive: new keys only — existing lists are
# FROZEN (CLAUDE.md: oracles and goldens derive from them).
# Cross-language collision guards (r3 code-review finding): lang_id is
# an argmax over raw hit counts, so a high-frequency ENGLISH token that
# appears only in ANOTHER language's list flips short English docs to
# that language ('a' was pt-only, 'i' (lowercased "I") pl-only). Two
# defenses: (1) no single-letter entries in non-en lists — they are
# weak, collision-prone features ('a' -> 'uma', 'i' -> 'ale'); (2) the
# en list carries the top English function words OTHER lists collide
# with ('do' pt/pl, 'you'/'na' zh, 'to' pl, 'a', 'i'), so genuine
# English text always outscores its cross-lang hits.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on",
           "a", "i", "it", "you", "do", "be", "as", "at", "was", "an"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "auf", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "pour", "dans", "une", "sur"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "las"],
    "zh": ["de", "shi", "zai", "le", "you", "wo", "ta", "men", "zhe", "na"],
    "it": ["il", "la", "di", "che", "e", "un", "per", "con", "non", "una"],
    "pt": ["de", "uma", "o", "que", "e", "do", "da", "em", "um", "para"],
    "nl": ["de", "het", "een", "en", "van", "ik", "te", "dat", "die", "op"],
    "sv": ["och", "att", "det", "som", "en", "av", "den", "till", "med", "han"],
    "pl": ["ale", "w", "na", "z", "do", "to", "sie", "nie", "jest", "ze"],
    "tr": ["bir", "ve", "bu", "da", "ne", "icin", "ile", "ama", "cok", "gibi"],
    "id": ["yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini",
           "dari", "akan"],
}

EN_STOPWORDS = list(dict.fromkeys(LANG_STOPWORDS["en"] + [
    "an", "by", "or", "are", "this",
]))


def sql_str_list(values: list[str]) -> str:
    """Render a SQL string-array body, e.g. ``'a','b','c'`` (no quotes inside)."""
    return ",".join("'" + v.replace("'", "''") + "'" for v in values)
