"""Compare the program's outputs with the generator's ground truth.

A document fails when any of its expected rows is missing, duplicated
or differs in text (byte for byte), method, status, fallback flag or
reliability; when its quarantine reason differs from the expected
one; or when a noise document shows up anywhere. Container children
are separate documents, keyed ``parent::child`` as the program names
them. Runs outside every timed region.
"""
from __future__ import annotations

import pandas as pd

_NO_PAGE = -1


def _page_key(s: pd.Series) -> pd.Series:
    return s.fillna(_NO_PAGE).astype("int64")


def _parent(url: str) -> str:
    return url.split("::", 1)[0]


def failed_docs(inputs, extracted: pd.DataFrame, quarantine: pd.DataFrame,
                only: set[str] | None = None) -> tuple[set[str], set[str]]:
    """(urls of the documents checked, urls of those that failed).
    `only`: the input urls the outputs cover (default: all)."""
    exp, eq, noise = (inputs.expected, inputs.expected_quarantine,
                      set(inputs.noise_urls))
    if only is not None:
        exp = exp[exp.url.map(_parent).isin(only)]
        eq = eq[eq.url.isin(only)]
        noise &= only
    exp = exp.assign(pk=_page_key(exp.page))
    got = extracted.assign(pk=_page_key(extracted.page))
    want_q = dict(zip(eq.url, eq.reason))
    docs = set(exp.url) | set(want_q) | noise
    bad: set[str] = set()

    dup = got.duplicated(["url", "pk"], keep=False)
    bad |= set(got.url[dup])

    m = exp.merge(got, on=["url", "pk"], how="left", suffixes=("_e", ""),
                  indicator=True)
    wrong = (
        (m._merge != "both")
        | (m.extracted_text != m.text)
        | (m.method_e != m.method)
        | (m.status_e != m.status)
        | (m.used_fallback_e != m.used_fallback)
        | ~((m.reliability_e - m.reliability).abs() < 1e-12)
    )
    bad |= set(m.url[wrong])

    # rows for documents nobody expects, or an OK row for a document
    # that should have been quarantined
    unexpected = ~got.url.isin(set(exp.url)) & (
        ~got.url.isin(set(want_q)) | (got.status != "ERROR"))
    bad |= set(got.url[unexpected])

    got_q: dict[str, list[str]] = {}
    for u, r in zip(quarantine.url, quarantine.reason):
        got_q.setdefault(u, []).append(r)
    for u, reason in want_q.items():
        if got_q.get(u) != [reason]:
            bad.add(u)
    bad |= {u for u in got_q if u not in want_q}

    bad |= noise & (set(got.url) | set(got_q))
    return docs | bad, bad


def failed_commits(input_urls: pd.Series,
                   manifest: pd.DataFrame) -> set[str]:
    """Input urls not committed exactly once in the manifest, and
    manifest urls that are not input urls."""
    counts = manifest.url.value_counts()
    want = set(input_urls)
    bad = {u for u in want if counts.get(u, 0) != 1}
    return bad | (set(counts.index) - want)
