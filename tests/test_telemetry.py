"""core.telemetry's build registry without Spark: the `last_*_metrics()`
error contract, and accumulator builds reporting from the moment they
exist."""

from __future__ import annotations

import uuid
from types import SimpleNamespace

import pytest

from ai_service_ocr_grading_handler_spark.core import telemetry


def _kind() -> str:
    return f"test-{uuid.uuid4().hex}"


def test_latest_errors_name_the_kind():
    kind = _kind()
    with pytest.raises(RuntimeError, match=f"^no executed {kind} invocation to report on$"):
        telemetry.latest(kind, telemetry.observation_metrics)
    with pytest.raises(RuntimeError, match=f"^no {kind} invocation to report on$"):
        telemetry.latest(kind, telemetry.accumulator_values)
    telemetry.register(kind, {"dropped": SimpleNamespace(value=0)})
    assert telemetry.latest(kind, telemetry.accumulator_values) == {
        "dropped": 0,
        "invocation": 1,
    }
