"""PII / toxicity scrubbing — north-rule layer, fully vectorized.

A chain of JVM-side ``regexp_replace`` calls (no Python in the hot
path). Patterns are deliberately RE2-compatible (work in both Java
regex and DuckDB/RE2) so the oracle queries can mirror them exactly.

Each pass is gated: ``regexp_replace`` decodes the whole text to a Java
string and re-encodes a copy even when nothing matches, so a pass runs
only on rows that pass a cheap pre-test, and other rows keep their text
as is.  Every gate tests a condition that every match of its pattern
needs, so the gated chain returns exactly what the ungated one does:

* email — the text contains ``@``;
* phone — the text contains an ASCII digit;
* IPv4  — the text contains ``.``;
* toxicity — the text contains one of the terms verbatim.  This holds
  only for terms without regex metacharacters; when any term has one
  (or there are no terms), the pass runs ungated.

The PII gates test the ORIGINAL text: the replacement tokens hold no
``@``, digit or ``.``, so an earlier pass can only remove what a later
gate looks for, never add it.  The toxicity gate tests the PII-scrubbed
text, the pass's own input (a term may match inside a token, e.g.
``IP`` in ``<IP>``).  On the benchmark corpus about one document in six
holds a digit and one in twenty an ``@``, so most rows skip every pass.

Scrub is idempotent: replacement tokens never re-match any pattern.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Phone: NANP-ish 10-digit core — (860) 649-7922 / 860-649-7922.
# No country-code prefix: an optional `[0-9]{1,2}[ .-]` prefix would
# swallow trailing digits of adjacent words ("badword1 860-..."), and
# RE2 (the DuckDB oracle engine) has no lookbehind to guard it. A
# leftover "+1 " before <PHONE> is not PII.
PHONE_RE = r"(\([0-9]{3}\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}"
IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"

EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"
IP_TOKEN = "<IP>"
TOX_TOKEN = "<TOX>"

# Placeholder toxicity lexicon — real deployments load a vetted list;
# the mechanism (single alternation regex, word-bounded) is the point.
DEFAULT_TOXICITY_TERMS: tuple[str, ...] = ("badword1", "badword2", "slur1")

# characters that give a toxicity term a meaning other than its literal
# self inside the alternation regex
_REGEX_META = frozenset("\\^$.|?*+()[]{}")


def toxicity_pattern(terms: tuple[str, ...] = DEFAULT_TOXICITY_TERMS) -> str:
    return r"\b(" + "|".join(terms) + r")\b"


def _gated(text: Column, gate: Column, pattern: str, token: str) -> Column:
    return F.when(gate, F.regexp_replace(text, pattern, token)).otherwise(text)


def scrub_pii(text: Column) -> Column:
    """email → phone → IPv4, in that order (emails would otherwise be
    chewed by the phone/IP digit patterns)."""
    out = _gated(text, text.contains("@"), EMAIL_RE, EMAIL_TOKEN)
    out = _gated(out, text.rlike("[0-9]"), PHONE_RE, PHONE_TOKEN)
    return _gated(out, text.contains("."), IPV4_RE, IP_TOKEN)


def scrub_toxicity(
    text: Column, terms: tuple[str, ...] = DEFAULT_TOXICITY_TERMS
) -> Column:
    pattern = toxicity_pattern(terms)
    if not terms or any(_REGEX_META.intersection(t) for t in terms):
        return F.regexp_replace(text, pattern, TOX_TOKEN)
    gate = reduce(lambda a, b: a | b, [text.contains(t) for t in terms])
    return _gated(text, gate, pattern, TOX_TOKEN)


def scrub_all(
    text: Column, terms: tuple[str, ...] = DEFAULT_TOXICITY_TERMS
) -> Column:
    return scrub_toxicity(scrub_pii(text), terms)
