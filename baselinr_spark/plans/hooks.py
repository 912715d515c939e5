"""Alert hooks over the unified events table.

Recasts the reference event-hook registry
(/root/reference/baselinr/events/hooks.py:12-40,
builtin_hooks.py:20-520). The reference dispatches one in-process
callback per event object; SQL/Snowflake sink hooks are subsumed here
by the events parquet sink itself (every event is already a row). What
remains worth recasting is ALERTING: after a pipeline run, fan the
high-signal events out to loggers/webhooks.

Scale contract: hooks receive event rows the driver already holds
(run_pipeline passes the rows it just wrote). Events are
O(partitions × rules), not O(docs). A hook must never be invoked
per-document.
"""

from __future__ import annotations

import json
import logging
from typing import Callable, Protocol

from ..severity import SEVERITY_RANK, severity_rank

logger = logging.getLogger(__name__)


class AlertHook(Protocol):
    """One event row in, side effect out (reference hooks.py:12-40)."""

    def handle_event(self, event: dict) -> None: ...


class LoggingAlertHook:
    """Log each event (reference builtin_hooks.py:20-46)."""

    def __init__(self, log_level: str = "INFO"):
        self.level = getattr(logging, log_level.upper(), logging.INFO)
        self.seen: list[dict] = []  # inspectable, keeps tests hermetic

    def handle_event(self, event: dict) -> None:
        self.seen.append(event)
        logger.log(
            self.level,
            "baselinr event %s type=%s partition=%s severity=%s",
            event.get("event_id"), event.get("event_type"),
            event.get("partition"), event.get("severity"),
        )


class WebhookAlertHook:
    """Slack-style webhook alert (reference builtin_hooks.py:249-520).
    The HTTP POST itself is injectable (`sender`) — this sandbox has no
    network, and in production you'd pass `requests.post` or similar;
    the default raises so misconfiguration fails loudly."""

    def __init__(self, webhook_url: str,
                 sender: Callable[[str, str], None] | None = None):
        self.webhook_url = webhook_url
        self.sender = sender

    def handle_event(self, event: dict) -> None:
        payload = json.dumps({
            "text": (
                f":warning: {event.get('event_type')} on partition "
                f"{event.get('partition')} ({event.get('severity')}): "
                f"{event.get('metric_name')} score={event.get('score')}"
            )
        })
        if self.sender is None:
            raise NotImplementedError(
                "No HTTP sender configured (offline sandbox). Pass "
                "sender=lambda url, body: requests.post(url, data=body)."
            )
        self.sender(self.webhook_url, payload)


def dispatch_events(
    events: list[dict],
    hooks: list[AlertHook],
    min_severity: str = "medium",
    event_types: list[str] | None = None,
    max_events: int = 1000,
) -> int:
    """Feed each event row at or above `min_severity` (and of
    `event_types`, when given) to every hook, newest `ts` first, ties by
    event_id. Returns the number of events dispatched. `max_events`
    bounds a pathological run — if hit, the truncation is logged rather
    than silent."""
    if not hooks:
        return 0
    floor = severity_rank(min_severity)  # raises on typos — fail loudly
    ranks = {s for s, r in SEVERITY_RANK.items() if r >= floor}
    rows = [e for e in events
            if (e.get("severity") or "").lower() in ranks
            and (not event_types or e.get("event_type") in event_types)]
    rows.sort(key=lambda e: e["event_id"])
    rows.sort(key=lambda e: e["ts"], reverse=True)
    if len(rows) > max_events:
        logger.warning("dispatch_events truncated to %d events", max_events)
        rows = rows[:max_events]
    for r in rows:
        d = dict(r)
        for h in hooks:
            try:
                h.handle_event(d)
            except NotImplementedError:
                raise
            except Exception:  # one failing hook must not kill the run
                logger.exception("alert hook %r failed", h)
    return len(rows)
