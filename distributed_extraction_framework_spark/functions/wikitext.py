"""Wiki-markup parsing: regex patterns (shared JVM/Python) + the single
vectorized parse pass for template-structured constructs.

Design split (SURVEY.md §2.2, §7):

* **Flat, regular constructs** (links, categories, redirects, template
  names) are extracted JVM-side with ``F.regexp_extract_all`` — they stay
  inside whole-stage codegen, no Python in the hot path.
* **Recursive constructs** (infobox key/values with nested links and
  templates, coordinate templates with variable arity) need a real
  brace-depth parser → ONE Arrow-vectorized pandas UDF
  (``parse_page_udf``) that parses each page exactly once and returns a
  struct; every downstream dataset (infobox_properties, geo_coordinates,
  mappingbased_*) is derived from that struct with Catalyst explodes.
  This mirrors the reference's composite-extractor single pass
  (DistExtractionJob.scala:39-58) while keeping Python per-batch, not
  per-row.

The regex *patterns* are written in the common subset of Java regex and
Python ``re`` so the Spark plan and the pure-Python oracle
(oracle/pyref.py) provably scan the same grammar.
"""

from __future__ import annotations

import re

import pandas as pd

# --------------------------------------------------------------------------
# patterns (portable: Java regex ∩ Python re; no possessive quantifiers)
# --------------------------------------------------------------------------

# reference semantics: DistRedirects.scala:155-170 — language-specific
# #REDIRECT keyword, optional colon, first wiki link target.
REDIRECT_PATTERN = r"(?i)^[ \t]*#(?:REDIRECT|WEITERLEITUNG|REDIRECTION)[ \t]*:?[ \t]*\[\[([^\[\]|#]+)[^\]]*\]\]"

# every [[...]] occurrence; inner routing (category/file/interlanguage/main)
# happens in Catalyst on the captured target string.
INTERNAL_LINK_PATTERN = r"\[\[([^\[\]]+)\]\]"

# bracketed external link: [http://x label] / [https://x]
BRACKET_EXTERNAL_PATTERN = r"\[(https?://[^\s\]]+)[^\]]*\]"
# bare external URL (not preceded by '[' or '=' — avoids double-count with
# bracketed links and infobox `website = http://...` values staying raw)
BARE_EXTERNAL_PATTERN = r"(?<![\[=/])\b(https?://[^\s\]\[<>\"{}|]+)"

# each template start `{{Name` (captures nested templates too, which is the
# published ArticleTemplates semantics: every transcluded template)
TEMPLATE_NAME_PATTERN = r"\{\{[ \t]*([^{}|\n]+?)[ \t]*(?=[|}\n])"

# interlanguage link target inside [[...]]: 'de:Titel' (2-3 letter code)
INTERLANGUAGE_PREFIX = r"^[a-z]{2,3}:"

# first bold span: '''Title'''
BOLD_LEAD_PATTERN = r"'''([^']+)'''"

_REDIRECT_RE = re.compile(REDIRECT_PATTERN)
_TEMPLATE_OPEN_RE = re.compile(r"\{\{")


# --------------------------------------------------------------------------
# pure-Python kernels (used by the pandas UDF; importable without Spark)
# --------------------------------------------------------------------------

def find_top_level_templates(text: str) -> list[str]:
    """Return the raw source of every template occurrence, including nested
    ones, via brace-depth matching (a regex cannot balance braces).

    Scans with C-speed ``str.find`` over the delimiters instead of a
    per-character Python loop — this is the flagship extraction's hottest
    kernel (~3× on wiki-dense pages; semantics fuzz-proven equal to the
    character-walk reference in tests/test_property.py)."""
    out: list[str] = []
    opens: list[int] = []
    find = text.find
    i = 0
    # Cache the next-close position: after pushing an open at o < c, the
    # first '}}' from i=o+2 is provably still c ('}}' cannot start inside
    # the '{{' at o, and [i, c) ⊆ the already-searched gap), so re-running
    # find('}}') per open would be O(n²) on runs of unmatched '{{'
    # (adversarial '{{'*100k pages). Only re-find after consuming a close.
    c = -1
    while True:
        if c < i:
            c = find("}}", i)
            if c == -1:
                break
        o = find("{{", i)
        if o != -1 and o < c:
            opens.append(o)
            i = o + 2
        else:
            if opens:
                out.append(text[opens.pop() : c + 2])
            i = c + 2
    return out


_SPLIT_TOK_RE = re.compile(r"\{\{|\}\}|\[\[|\]\]|\|")


def split_template(src: str) -> tuple[str, list[str]]:
    """Split ``{{Name|a|k=v|...}}`` into (name, top-level parts).

    Splits on '|' only at brace/bracket depth 0 so values containing
    ``[[A|b]]`` or nested ``{{...}}`` survive intact. Tokenized with one
    regex scan (C speed); same token precedence and depth rules as the
    character-walk form it replaced (fuzz-proven in test_property.py).
    """
    body = src[2:-2]
    parts: list[str] = []
    depth_brace = 0
    depth_brack = 0
    last = 0
    for m in _SPLIT_TOK_RE.finditer(body):
        tok = m.group()
        if tok == "{{":
            depth_brace += 1
        elif tok == "}}":
            depth_brace -= 1
        elif tok == "[[":
            depth_brack += 1
        elif tok == "]]":
            depth_brack -= 1
        elif depth_brace == 0 and depth_brack == 0:  # top-level '|'
            parts.append(body[last : m.start()])
            last = m.end()
    parts.append(body[last:])
    name = parts[0].strip()
    return name, parts[1:]


def _infobox_kv(name: str, parts: list[str]) -> list[tuple[str, str, str]]:
    out: list[tuple[str, str, str]] = []
    for part in parts:
        if "=" not in part:
            continue
        key, _, value = part.partition("=")
        key = key.strip()
        value = value.strip()
        if key and value:
            out.append((name, key, value))
    return out


def parse_infoboxes(text: str) -> list[tuple[str, str, str]]:
    """All ``{{Infobox ...}}`` key/value triples: (template, key, value)."""
    out: list[tuple[str, str, str]] = []
    for src in find_top_level_templates(text):
        # cheap name pre-filter: only split templates that can match
        if not src[2:].lstrip()[:7].lower().startswith("infobox"):
            continue
        name, parts = split_template(src)
        if not name.lower().startswith("infobox"):
            continue
        out.extend(_infobox_kv(name, parts))
    return out


def _dms_to_decimal(nums: list[float], hemi: str) -> float:
    deg = nums[0] if len(nums) > 0 else 0.0
    minute = nums[1] if len(nums) > 1 else 0.0
    sec = nums[2] if len(nums) > 2 else 0.0
    val = deg + minute / 60.0 + sec / 3600.0
    if hemi in ("S", "W"):
        val = -val
    return val


def _coord_from_parts(parts: list[str]) -> tuple[float, float] | None:
    """Decimal / DMS coordinate from a Coord template's parts, or None."""
    # positional args only, drop key=value display params
    pos = [p.strip() for p in parts if "=" not in p and p.strip()]
    try:
        if (
            len(pos) >= 2
            and _is_float(pos[0])
            and _is_float(pos[1])
            and not any(p in ("N", "S", "E", "W") for p in pos[:4])
        ):
            return (float(pos[0]), float(pos[1]))
        # DMS: numbers until N/S, then numbers until E/W
        lat_nums: list[float] = []
        lon_nums: list[float] = []
        lat_h = lon_h = ""
        bucket: list[float] = lat_nums
        for p in pos:
            if p in ("N", "S"):
                lat_h = p
                bucket = lon_nums
            elif p in ("E", "W"):
                lon_h = p
                break
            elif _is_float(p):
                bucket.append(float(p))
        if lat_h and lon_h and lat_nums and lon_nums:
            return (
                _dms_to_decimal(lat_nums, lat_h),
                _dms_to_decimal(lon_nums, lon_h),
            )
    except (ValueError, IndexError):
        return None
    return None


def parse_coords(text: str) -> list[tuple[float, float]]:
    """Parse ``{{Coord|...}}`` templates (published GeoExtractor semantics).

    Supports decimal (``{{Coord|48.8567|2.3508}}``) and DMS forms
    (``{{Coord|48|51|24|N|2|21|03|E}}``, ``{{Coord|48|51|N|2|21|E}}``).
    """
    out: list[tuple[float, float]] = []
    for src in find_top_level_templates(text):
        if src[2:].lstrip()[:5].lower() != "coord":
            # cheap name pre-filter (exact name check after split below)
            continue
        name, parts = split_template(src)
        if name.strip().lower() != "coord":
            continue
        c = _coord_from_parts(parts)
        if c is not None:
            out.append(c)
    return out


def _is_float(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def parse_page_kernel(text: str) -> dict:
    """One full structural parse of a page: the payload of the single
    vectorized parse pass. Returns the PARSED_PAGE_SCHEMA dict.

    ONE brace-balanced template scan feeds both infobox and coord
    extraction (name pre-filters skip the split for everything else) —
    equal by construction to parse_infoboxes + parse_coords and
    fuzz-checked against them in tests/test_property.py."""
    if not text or "{{" not in text:
        return {"infobox": [], "coords": []}
    infobox: list[dict] = []
    coords: list[dict] = []
    for src in find_top_level_templates(text):
        head = src[2:].lstrip()[:7].lower()
        if head.startswith("infobox"):
            name, parts = split_template(src)
            if not name.lower().startswith("infobox"):
                continue
            infobox.extend(
                {"template": t, "key": k, "value": v}
                for (t, k, v) in _infobox_kv(name, parts)
            )
        elif head[:5] == "coord":
            name, parts = split_template(src)
            if name.strip().lower() != "coord":
                continue
            c = _coord_from_parts(parts)
            if c is not None:
                coords.append({"lat": c[0], "lon": c[1]})
    return {"infobox": infobox, "coords": coords}


def html_to_text_kernel(html: bytes | None) -> str | None:
    """Extract the markup payload from synthetic HTML, byte-identically.

    Contract (BASELINE.json input_hint): ``text`` must be byte-identical to
    what this function derives from ``html``. The synthetic HTML wraps the
    markup in ``<pre data-kind="source">…</pre>`` with the three XML
    escapes; this inverts exactly that.
    """
    if html is None:
        return None
    s = html.decode("utf-8")
    start = s.find('<pre data-kind="source">')
    if start == -1:
        return ""
    start += len('<pre data-kind="source">')
    end = s.find("</pre>", start)
    body = s[start : end if end != -1 else len(s)]
    return body.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


# --------------------------------------------------------------------------
# character-walk reference kernels (test references, no production caller)
#
# The production parse is parse_page_kernel above (str.find/regex
# tokenizer). These are the original character-walk implementations of
# the same semantics, kept only as the reference the fuzz tests in
# tests/test_property.py compare the fast kernels against.
# --------------------------------------------------------------------------

def find_top_level_templates_charwalk(text: str) -> list[str]:
    """Character-walk template scan (reference implementation of
    find_top_level_templates; same output by construction + fuzz tests)."""
    out: list[str] = []
    opens: list[int] = []
    i, n = 0, len(text)
    while i < n - 1:
        if text[i] == "{" and text[i + 1] == "{":
            opens.append(i)
            i += 2
        elif text[i] == "}" and text[i + 1] == "}" and opens:
            out.append(text[opens.pop() : i + 2])
            i += 2
        else:
            i += 1
    return out


def split_template_charwalk(src: str) -> tuple[str, list[str]]:
    """Character-walk template splitter (reference implementation of
    split_template)."""
    body = src[2:-2]
    parts: list[str] = []
    cur: list[str] = []
    depth_brace = depth_brack = 0
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        nxt = body[i + 1] if i + 1 < n else ""
        if c == "{" and nxt == "{":
            depth_brace += 1
            cur.append("{{")
            i += 2
        elif c == "}" and nxt == "}":
            depth_brace -= 1
            cur.append("}}")
            i += 2
        elif c == "[" and nxt == "[":
            depth_brack += 1
            cur.append("[[")
            i += 2
        elif c == "]" and nxt == "]":
            depth_brack -= 1
            cur.append("]]")
            i += 2
        elif c == "|" and depth_brace == 0 and depth_brack == 0:
            parts.append("".join(cur))
            cur = []
            i += 1
        else:
            cur.append(c)
            i += 1
    parts.append("".join(cur))
    return parts[0].strip(), parts[1:]


def parse_page_kernel_charwalk(text: str) -> dict:
    """parse_page_kernel on the character-walk kernels (no name
    pre-filters — every template is split, like the round-1 build)."""
    if not text or "{{" not in text:
        return {"infobox": [], "coords": []}
    infobox: list[dict] = []
    coords: list[dict] = []
    for src in find_top_level_templates_charwalk(text):
        name, parts = split_template_charwalk(src)
        if name.lower().startswith("infobox"):
            infobox.extend(
                {"template": t, "key": k, "value": v}
                for (t, k, v) in _infobox_kv(name, parts)
            )
        elif name.strip().lower() == "coord":
            c = _coord_from_parts(parts)
            if c is not None:
                coords.append({"lat": c[0], "lon": c[1]})
    return {"infobox": infobox, "coords": coords}


# --------------------------------------------------------------------------
# pandas (Arrow-vectorized) wrappers
# --------------------------------------------------------------------------

def make_parse_page_udf(deterministic: bool = True):
    """Pandas UDF: text → PARSED_PAGE_SCHEMA struct (one parse per page).

    ``deterministic=False`` marks the UDF non-deterministic so the
    optimizer may not duplicate it below an inferred filter (the
    InferFiltersFromGenerate pattern: ``explode(parsed.infobox)`` infers
    ``size(parsed.infobox) > 0``, and pushing that filter evaluates the
    UDF once below it and again in the projection — every page parsed
    twice). The parse is pure, so results are unchanged; callers whose
    plan explodes the struct directly (operators/mapping.py) opt in,
    while extract()'s fused projection (no such filter) keeps the
    deterministic default and its filter-pushdown freedom."""
    from pyspark.sql.functions import pandas_udf

    from ..schema import PARSED_PAGE_SCHEMA

    @pandas_udf(PARSED_PAGE_SCHEMA)
    def parse_page(texts: pd.Series) -> pd.DataFrame:
        parsed = [
            parse_page_kernel(t if isinstance(t, str) else "") for t in texts
        ]
        return pd.DataFrame(
            {
                "infobox": [
                    [(d["template"], d["key"], d["value"]) for d in p["infobox"]]
                    for p in parsed
                ],
                "coords": [
                    [(d["lat"], d["lon"]) for d in p["coords"]] for p in parsed
                ],
            }
        )

    if not deterministic:
        parse_page = parse_page.asNondeterministic()
    return parse_page


def make_html_to_text_udf():
    """Pandas UDF: html binary → byte-identical markup text."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def html_to_text(htmls: pd.Series) -> pd.Series:
        return htmls.map(html_to_text_kernel)

    return html_to_text
