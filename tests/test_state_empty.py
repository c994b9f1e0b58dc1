"""Every state reader on a path that was never folded raises the same
``ValueError("<family> state at <path> is empty")`` — and detects it
without a Spark job (the lazy readers see only the missing path)."""

import re

import pytest

from wrangler_spark.datapipe import curation, events, numeric, text

READERS = {
    "vocab": (text.vocab_from_state, "vocab"),
    "hist": (numeric.hist_from_state, "quantile"),
    "quantiles": (numeric.quantiles_from_state, "quantile"),
    "cms": (curation.cms_from_state, "cms"),
    "distinct": (curation.distinct_from_state, "distinct"),
    "resample": (events.resample_from_state, "resample"),
    "report": (curation.report_from_state, "report"),
    "constraints": (curation.constraints_from_state, "constraints"),
    "constraints_history": (curation.constraints_history, "constraints"),
}


@pytest.mark.parametrize("reader", list(READERS))
def test_never_folded_state_is_empty(spark, jobs, tmp_path, reader):
    read, family = READERS[reader]
    path = str(tmp_path / "never")

    def call():
        with pytest.raises(ValueError, match=f"^{family} state at {re.escape(path)} is empty$"):
            read(spark, path)

    assert jobs(call) == 0
