"""dispatch_events over driver-held event rows: severity floor,
event_types, (ts desc, event_id) order and the max_events cap."""

import datetime as dt

import pytest

from baselinr_spark.plans.hooks import LoggingAlertHook, dispatch_events

T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _ev(event_id, severity, minutes=0, event_type="validation_failed"):
    return {"event_id": event_id, "event_type": event_type,
            "severity": severity, "ts": T0 + dt.timedelta(minutes=minutes)}


EVENTS = [
    _ev("b", "high"), _ev("a", "MEDIUM"), _ev("c", "low"),
    _ev("d", "none", 5), _ev("e", None, 5),
    _ev("f", "medium", 5, "distribution_drift"),
]


def test_severity_floor_and_order():
    hook = LoggingAlertHook()
    assert dispatch_events(EVENTS, [hook]) == 3
    # newest ts first, then event_id; severity compared case-blind
    assert [e["event_id"] for e in hook.seen] == ["f", "a", "b"]


def test_event_types_and_truncation(caplog):
    hook = LoggingAlertHook()
    n = dispatch_events(EVENTS, [hook], min_severity="low",
                        event_types=["validation_failed"], max_events=2)
    assert n == 2 and [e["event_id"] for e in hook.seen] == ["a", "b"]
    assert "truncated to 2" in caplog.text


def test_unknown_severity_raises():
    with pytest.raises(ValueError):
        dispatch_events(EVENTS, [LoggingAlertHook()], min_severity="urgent")
    assert dispatch_events(EVENTS, []) == 0
