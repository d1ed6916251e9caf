"""``annotate_pdf`` with no mentions returns the Arrow schema's columns
and dtypes, so the empty and non-empty results concatenate without
``kb_id`` turning float."""

from __future__ import annotations

import pandas as pd

from kglinker.extract.stage import _PA_SCHEMA, annotate_pdf


def test_annotate_pdf_without_mentions_keeps_schema(artifacts):
    pdf = pd.DataFrame({"conv_id": ["c1", "c1", "c2"],
                        "turn_idx": [0, 1, 0],
                        "text": ["ok fine", "", "xyz qqq"]})
    out = annotate_pdf(pdf, artifacts)
    assert out.empty
    assert list(out.columns) == _PA_SCHEMA.names
    assert out["kb_id"].dtype == "int64"
    assert out["turn_idx"].dtype == "int32"
