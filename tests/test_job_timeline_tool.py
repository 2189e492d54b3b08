"""tools/job_timeline.py settles the UI job list without crashing on a
failed or timed-out poll."""

from __future__ import annotations

import importlib.util
import urllib.error
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _tool():
    spec = importlib.util.spec_from_file_location(
        "job_timeline", REPO / "tools" / "job_timeline.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_failed_polls_count_as_still_moving(monkeypatch):
    mod = _tool()
    jobs = [{"jobId": 0, "status": "SUCCEEDED", "numCompletedTasks": 1}]
    answers = iter(
        [jobs, urllib.error.URLError("down"), jobs, TimeoutError(), jobs, jobs]
    )

    def poll(_sc):
        a = next(answers)
        if isinstance(a, Exception):
            raise a
        return a

    monkeypatch.setattr(mod, "_jobs", poll)
    monkeypatch.setattr(mod.time, "sleep", lambda _s: None)
    # a failure resets the agreement: only the last two polls agree
    assert mod.settled_jobs(None) == jobs


def test_endpoint_that_never_answers_raises(monkeypatch):
    mod = _tool()

    def poll(_sc):
        raise urllib.error.URLError("down")

    monkeypatch.setattr(mod, "_jobs", poll)
    monkeypatch.setattr(mod.time, "sleep", lambda _s: None)
    with pytest.raises(RuntimeError, match="never answered"):
        mod.settled_jobs(None)
