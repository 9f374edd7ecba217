"""PII/toxicity scrub chain (SURVEY.md §2.B D4/F2).

Rules are *data*, not code (bdqc's plugin registry reimagined,
SURVEY.md A15): an ordered list of (rule_id, pattern, replacement).
Order is semantics — emails before generic ids, phones before bare
digit runs — and is frozen here; the single-node oracle
(bdqc_spark/synth/oracle.py) applies the same list in the same
order, which is what makes scrubbed-transcript *exact match*
achievable (SURVEY.md §7 hardest-risk 1).

Execution: one chained `regexp_replace` pipeline — pure Catalyst,
JVM-side, whole-stage-codegen'd; zero Python in the hot path.
Patterns use explicit ASCII classes only, so Java regex (Spark),
RE2 (DuckDB oracle) and Python `re` (numpy oracle) all agree.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ScrubRule:
    rule_id: str
    pattern: str
    replacement: str


# Frozen rule chain — ORDER MATTERS.
SCRUB_RULES: tuple[ScrubRule, ...] = (
    ScrubRule("pii.email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ScrubRule(
        "pii.phone",
        r"(\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b",
        "<PHONE>",
    ),
    ScrubRule("pii.ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ScrubRule("pii.ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ScrubRule("pii.id16", r"\b[0-9]{16}\b", "<ID>"),
    # Toxicity lexicon — small fixed list for the synthetic corpus;
    # real deployments swap in a larger lexicon (rules are data).
    ScrubRule("tox.lexicon", r"(?i)\b(frak|gorram|smeg|belgium)\b", "<TOX>"),
)


def scrub_column(c: Column, rules: tuple[ScrubRule, ...] = SCRUB_RULES) -> Column:
    """Apply the ordered rule chain → scrubbed text column."""
    out = c
    for r in rules:
        out = F.regexp_replace(out, r.pattern, r.replacement)
    return out


def n_edits_column(c: Column, rules: tuple[ScrubRule, ...] = SCRUB_RULES) -> Column:
    """Total number of replacements across the chain (metrics table
    'scrub edits'). Counted per rule on the progressively scrubbed
    text, mirroring the sequential chain exactly."""
    total = F.lit(0)
    cur = c
    for r in rules:
        total = total + F.regexp_count(cur, F.lit(r.pattern))
        cur = F.regexp_replace(cur, r.pattern, r.replacement)
    return total


class ScrubAuditUDTF:
    """Python UDTF (SURVEY.md §2.B V6): explode per-rule scrub-audit
    records for one transcript — (rule_id, n_matches) rows for every
    rule that fires, evaluated on the progressively scrubbed text
    (same chain order as scrub_column). Row-at-a-time by design: this
    is the audit/debug surface, not the hot path (the hot path is the
    chained regexp_replace in Catalyst).

    Register with: spark.udtf.register("scrub_audit", ScrubAuditUDTF)
    Use in SQL:    SELECT d.doc_id, s.* FROM docs d,
                   LATERAL scrub_audit(d.text) s
    """

    def eval(self, text: str):  # noqa: D401
        cur = text if isinstance(text, str) else ""
        for r in SCRUB_RULES:
            n = len(re.findall(r.pattern, cur))
            if n:
                yield r.rule_id, n
            cur = re.sub(r.pattern, r.replacement, cur)


def scrub_python(text: str, rules: tuple[ScrubRule, ...] = SCRUB_RULES) -> tuple[str, int, list[str]]:
    """Single-node reference implementation (the oracle's scrubber).
    Must stay semantically identical to scrub_column/n_edits_column."""
    edits = 0
    hits = []
    out = text
    for r in rules:
        new, n = re.subn(r.pattern, r.replacement, out)
        if re.search(r.pattern, out):
            hits.append(r.rule_id)
        edits += n
        out = new
    return out, edits, sorted(hits)


# --------------------------------------------------------------------------
# Unicode-aware scrub chain (SURVEY.md §2.B F2 fallback; VERDICT r3 #5).
#
# The default ASCII chain above is the oracle-checked fast path (pure
# Catalyst, Java/RE2/`re` all agree). Real multilingual PII — accented
# addresses, non-ASCII digits, honorific+name pairs — needs Unicode
# character classes (\p{L}, \p{N}, \p{Lu}) that Java regex and RE2
# disagree on, so this chain runs through the `regex` package inside an
# Arrow-batched pandas UDF instead. Config-selectable: callers pick the
# chain; rules stay data. The single-node twin scrub_unicode_python is
# the test oracle (exact match + idempotence, tests/test_text_models).
# --------------------------------------------------------------------------
UNICODE_SCRUB_RULES: tuple[ScrubRule, ...] = (
    ScrubRule(
        "pii.email.uni",
        r"[\p{L}\p{N}._%+-]+@[\p{L}\p{N}.-]+\.\p{L}{2,}",
        "<EMAIL>",
    ),
    ScrubRule(
        "pii.phone.uni",
        r"(\+?\p{N}{1,3}[-.\s])?\(?\p{N}{3}\)?[-.\s]\p{N}{3}[-.\s]\p{N}{4}\b",
        "<PHONE>",
    ),
    ScrubRule("pii.ssn.uni", r"\p{N}{3}-\p{N}{2}-\p{N}{4}", "<SSN>"),
    ScrubRule("pii.ip.uni", r"\b\p{N}{1,3}\.\p{N}{1,3}\.\p{N}{1,3}\.\p{N}{1,3}\b", "<IP>"),
    ScrubRule("pii.id16.uni", r"\b\p{N}{16}\b", "<ID>"),
    # honorific + capitalized name (any script with casing)
    ScrubRule(
        "pii.name.uni",
        r"\b(?:Herr|Frau|Sr\.?|Sra\.?|M\.|Mme|Dr\.?|Mr\.?|Mrs\.?|Ms\.?)\s+\p{Lu}\p{L}+",
        "<NAME>",
    ),
    ScrubRule("tox.lexicon.uni", r"(?i)\b(frak|gorram|smeg|belgium)\b", "<TOX>"),
)


def scrub_unicode_python(
    text: str, rules: tuple[ScrubRule, ...] = UNICODE_SCRUB_RULES
) -> tuple[str, int, list[str]]:
    """Single-node Unicode twin of scrub_python (the test oracle)."""
    import regex

    edits = 0
    hits = []
    out = text if isinstance(text, str) else ""
    for r in rules:
        new, n = regex.subn(r.pattern, r.replacement, out)
        if n:
            hits.append(r.rule_id)
        edits += n
        out = new
    return out, edits, sorted(hits)


def scrub_unicode_columns(df, text_col: str, rules: tuple[ScrubRule, ...] = UNICODE_SCRUB_RULES):
    """df + text_col → df with scrubbed_text / n_scrub_edits /
    scrub_hits columns appended, via ONE Arrow-batched mapInPandas
    pass (the `regex` engine is Python-only, so this is deliberately
    off the Catalyst fast path; the batch loop compiles each rule
    once and runs C-regex per row — no per-row Spark dispatch)."""

    def _scrub(batches):
        import regex

        compiled = [(r.rule_id, regex.compile(r.pattern), r.replacement) for r in rules]
        for b in batches:
            texts, n_edits, hit_lists = [], [], []
            for t in b[text_col]:
                cur = t if isinstance(t, str) else ""
                edits, hits = 0, []
                for rid, pat, repl in compiled:
                    cur, n = pat.subn(repl, cur)
                    if n:
                        hits.append(rid)
                    edits += n
                texts.append(cur)
                n_edits.append(edits)
                hit_lists.append(sorted(hits))
            b = b.copy()
            b["scrubbed_text"] = texts
            b["n_scrub_edits"] = n_edits
            b["scrub_hits"] = hit_lists
            yield b

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(
        _scrub,
        f"{schema}, scrubbed_text string, n_scrub_edits int, scrub_hits array<string>",
    )
