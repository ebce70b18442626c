"""URL canonicalization — the crawl-dedup key normalizer.

Web crawls carry the same page under many spellings: http vs https, with
and without ``www.``, trailing slash, ``#fragment``, tracking parameters
(``utm_*``, ``gclid``, ...), and shuffled query order. Exact-URL dedup
(C4/RefinedWeb both dedup by URL before content dedup) needs one canonical
spelling per page; ``canonical_url_sql`` spells it as one codegen'd SQL
expression — no UDF, no shuffle, fuses into the scan.

Deliberately regex-only (no ``parse_url``): the Java-regex expressions
here stay inside the Java/RE2 common subset (the PiiRedactRefiner
discipline), so the DuckDB oracle mirrors them token-for-token and the
differential test pins the exact semantics
(tests/test_curation.py::test_url_canonicalize_matches_oracle).

Canonical form (scheme-less, the dedup key shape):

    host/path?k=v&k2=v2

* scheme and ``#fragment`` dropped (http/https/protocol-relative/bare
  collapse — the point);
* host lowercased, ``:port`` and leading ``www.`` stripped, trailing dot
  removed; ``userinfo@`` stripped only when the URL had an explicit
  ``//``-authority (so ``mailto:``/bare-email values keep a distinct key
  instead of aliasing with the site root);
* path: trailing ``/`` stripped (``/`` alone collapses to empty);
* query: parameters split on ``&``, empties and tracking params dropped,
  the rest SORTED (order-insensitive compare) and rejoined; an
  all-tracking query disappears entirely.

NULL/blank input -> NULL (no stable identity; KeyDeduplicator's window
groups NULLs, and the NUL-sentinel rule applies if composed into
multi-key dedup).
"""

from __future__ import annotations

from mega_data_factory_spark.functions.text import sql_string_literal

# The standard strip set: Google/Facebook/Microsoft/Mailchimp click and
# campaign trackers. Matched against the full "k=v" token by prefix-anchored
# regex (utm_* covers utm_source/medium/campaign/term/content/id/...).
TRACKING_PARAM_RE = (
    "^(utm_[^=]*|gclid|gclsrc|dclid|fbclid|msclkid|mc_cid|mc_eid|igshid|"
    "ref|ref_src|ref_url|_ga|_gl|spm|yclid|wbraid|gbraid)(=.*)?$"
)


def canonical_url_sql(url_sql: str) -> str:
    """Canonical scheme-less URL string (see module docstring), or NULL for
    NULL/blank/host-less input; ``url_sql`` is an already-rendered SQL
    fragment."""
    lit = sql_string_literal
    u = f"trim({url_sql})"
    # scheme and fragment off first; what remains is authority[/path][?query].
    # The optional-scheme form also strips protocol-relative "//host/x"
    # (a valid crawl spelling that previously canonicalized to NULL).
    scheme = lit("^([a-zA-Z][a-zA-Z0-9+.-]*:)?//")
    www, dot, qs = lit("^www\\."), lit("\\.$"), lit("\\?(.*)$")
    bare = f"regexp_replace({u}, {scheme}, '')"
    bare = f"regexp_replace({bare}, {lit('#.*$')}, '')"

    authority = f"regexp_extract({bare}, {lit('^([^/?]+)')}, 1)"
    # userinfo@ is only stripped when the URL had an explicit //-authority:
    # on scheme-less values an unconditional "^[^@]*@" cut turned
    # "mailto:info@example.com" (and bare email addresses in the url
    # field) into the site root "example.com", aliasing unrelated
    # documents with the homepage's dedup key.
    userinfo_cut = f"regexp_replace({authority}, {lit('^[^@]*@')}, '')"
    host = f"lower(CASE WHEN ({u} RLIKE {scheme}) THEN {userinfo_cut} ELSE {authority} END)"
    host = f"regexp_replace({host}, {lit(':[0-9]*$')}, '')"  # drop port (incl. bare ':')
    host = f"regexp_replace({host}, {www}, '')"
    host = f"regexp_replace({host}, {dot}, '')"  # trailing-dot FQDN form

    path = f"regexp_extract({bare}, {lit('^[^/?]+([^?]*)')}, 1)"
    path = f"regexp_replace({path}, {lit('/+$')}, '')"  # trailing slash(es); "/" -> ""

    query = f"CASE WHEN contains({bare}, '?') THEN regexp_extract({bare}, {qs}, 1) ELSE '' END"
    params = f"filter(split({query}, '&'), x -> ((length(x) > 0) AND (NOT (x RLIKE {lit(TRACKING_PARAM_RE)}))))"
    qpart = f"CASE WHEN (size({params}) > 0) THEN concat('?', array_join(array_sort({params}), '&')) ELSE '' END"

    out = f"concat({host}, {path}, {qpart})"
    return f"CASE WHEN ((({u} IS NULL) OR (length({u}) = 0)) OR (length({host}) = 0)) THEN NULL ELSE {out} END"
