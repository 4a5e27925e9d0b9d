"""Reference-label oracle: plain-Python/pandas implementation of the
quality-filter rules — the "reference" whose keep/drop decisions and
scrubbed text the Spark pipeline must reproduce (F1 ≥ 0.99, byte-identical
text_scrubbed per url — BASELINE.json).

Independence contract: this module shares only the *data* of the models
(stopword sets, trigram LM, scrub rule table, rule thresholds) with the
Spark pipeline — every computation here is per-document plain Python,
written against the rule definitions, not against the Spark expressions.
If the two implementations drift, the parity tests catch it.
"""

from __future__ import annotations

import pandas as pd

from soda_core_spark.functions.langid import LANGS, LANG_WORDS
from soda_core_spark.functions.perplexity import doc_log_perplexity
from soda_core_spark.functions.scrub import scrub_text
from soda_core_spark.functions.text import EN_STOPWORDS

_EN_SET = frozenset(EN_STOPWORDS)


def _signals(text: str) -> dict:
    n_chars = len(text)
    words = text.split()
    n_words = len(words)
    alnum = sum(1 for c in text if c.isascii() and c.isalnum())
    alnum_ratio = alnum / n_chars if n_chars > 0 else 0.0
    sw_hits = sum(1 for w in words if w.lower() in _EN_SET)
    stopword_density = sw_hits / n_words if n_words > 0 else 0.0
    if n_words >= 2:
        bigrams = [(words[i], words[i + 1]) for i in range(n_words - 1)]
        bigram_repetition = 1.0 - len(set(bigrams)) / len(bigrams)
    else:
        bigram_repetition = 0.0
    total_len = sum(len(w) for w in words)
    mean_word_length = total_len / n_words if n_words > 0 else 0.0
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "alnum_ratio": alnum_ratio,
        "stopword_density": stopword_density,
        "bigram_repetition": bigram_repetition,
        "mean_word_length": mean_word_length,
    }


def _langid(text: str) -> tuple[str, float]:
    tokens = [t.lower() for t in text.split()]
    if not tokens:
        return "und", 0.0
    best_lang, best = None, -1.0
    for lang in LANGS:  # sorted order: the first maximum wins ties
        score = sum(1 for t in tokens if t in LANG_WORDS[lang]) / len(tokens)
        if score > best:
            best_lang, best = lang, score
    if best <= 0.0:
        return "und", best
    return best_lang, best


def label_document(text: str | None, lang: str | None) -> dict:
    """keep/drop + per-rule fails + scrubbed text for one document.
    Rule semantics transcribed from operators/filter_rules.py conditions."""
    t = text or ""
    sig = _signals(t)
    pred, conf = _langid(t)
    log_ppl = doc_log_perplexity(t)

    fails = {
        "min_chars": sig["n_chars"] < 200,
        "max_chars": sig["n_chars"] > 20000,
        "min_words": sig["n_words"] < 40,
        "alnum_ratio": sig["alnum_ratio"] < 0.55,
        "stopword_density": (lang == "en") and sig["stopword_density"] < 0.08,
        "repetition": sig["bigram_repetition"] > 0.30,
        "mean_word_length": sig["mean_word_length"] < 2.0
        or sig["mean_word_length"] > 14.0,
        "langid_disagree": (pred != lang) and conf >= 0.15,
        "perplexity": (lang == "en") and log_ppl > 4.0,
    }
    return {
        **sig,
        "langid_pred": pred,
        "langid_conf": conf,
        "log_ppl": log_ppl,
        **{f"fail_{k}": v for k, v in fails.items()},
        "keep": not any(fails.values()),
        "text_scrubbed": scrub_text(text),
    }


def label_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Label a web_pages pandas frame; returns url + labels."""
    rows = [
        {"url": r.url, **label_document(r.text, r.lang)}
        for r in pdf.itertuples(index=False)
    ]
    return pd.DataFrame(rows)


def keep_drop_f1(oracle: pd.Series, predicted: pd.Series) -> float:
    """F1 of the predicted keep decision vs oracle labels (positive class =
    keep)."""
    tp = int(((oracle) & (predicted)).sum())
    fp = int(((~oracle) & (predicted)).sum())
    fn = int(((oracle) & (~predicted)).sum())
    if tp == 0:
        return 0.0
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    return 2 * p * r / (p + r)
