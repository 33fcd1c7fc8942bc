"""Shared text-op constants + oracle fragments, with NO query registrations.

Same rationale as llm/vector_common.py: cross-module oracle reuse without
importing query modules.
"""

from __future__ import annotations

# tiny per-language marker sets for the heuristic langid scorer (the corpus
# itself is synthetic word salad — the scorer demonstrates the operator shape)
LANG_MARKERS = {
    "en": ("the", "a", "of", "fast", "slow"),
    "de": ("der", "die", "und", "schnell", "daten"),
    "es": ("el", "la", "de", "datos", "rapido"),
    "fr": ("le", "la", "et", "vite", "donnees"),
}


def _marker_sql(lang: str) -> str:
    return f"CAST(LEN(LIST_FILTER(toks, t -> t IN {LANG_MARKERS[lang]})) AS DOUBLE) / LEN(toks)"


# Full oracle for the heuristic language-ID scorer — shared by text_langid
# and the text_langid_confusion audit (which embeds it as a CTE).
TEXT_LANGID_ORACLE = f"""
    WITH m AS (SELECT doc_id, lang, STRING_SPLIT(LOWER(text), ' ') AS toks FROM documents),
    scores AS (
        SELECT doc_id, lang,
               {_marker_sql('en')} AS score_en,
               {_marker_sql('de')} AS score_de,
               {_marker_sql('es')} AS score_es,
               {_marker_sql('fr')} AS score_fr
        FROM m
    )
    SELECT doc_id, lang AS labeled_lang, score_en, score_de, score_es, score_fr,
           CASE WHEN score_en >= GREATEST(score_de, score_es, score_fr) THEN 'en'
                WHEN score_de >= GREATEST(score_es, score_fr) THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scores
    """
