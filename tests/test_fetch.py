"""S1/S2 fetch orchestration: the reference's 20-retries-1h-apart policy
(pp_complete_downloader.py:359-385) with injected transport/clock — no
network, no real sleeping."""

from __future__ import annotations

import datetime

import pytest

from land_registry_data_ingestion_spark.sources.fetch import (
    FetchFailed,
    fetch_with_retry,
)


class FlakyTransport:
    """Fails ``n_failures`` times, then serves ``payload``."""

    def __init__(self, payload: bytes, n_failures: int):
        self.payload = payload
        self.n_failures = n_failures
        self.calls = 0

    def __call__(self, url: str) -> bytes:
        self.calls += 1
        if self.calls <= self.n_failures:
            raise RuntimeError("request failure 503")
        return self.payload


def test_retry_then_success_with_1h_spacing(tmp_path):
    sleeps: list[float] = []
    transport = FlakyTransport(b"data", n_failures=3)
    res = fetch_with_retry(
        "http://example.invalid/pp-complete.txt",
        str(tmp_path / "staged.csv"),
        transport=transport,
        sleep=sleeps.append,
    )
    assert res.attempts == 4 and transport.calls == 4
    assert sleeps == [3600.0] * 3  # 1h between attempts, none after success
    assert (tmp_path / "staged.csv").read_bytes() == b"data"
    assert not (tmp_path / "staged.csv.part").exists()  # atomic rename


def test_gives_up_after_max_retries(tmp_path):
    sleeps: list[float] = []
    transport = FlakyTransport(b"data", n_failures=99)
    with pytest.raises(FetchFailed, match="after 21 attempts"):
        fetch_with_retry(
            "http://example.invalid/pp-complete.txt",
            str(tmp_path / "staged.csv"),
            transport=transport,
            sleep=sleeps.append,
        )
    # reference: fail_count > 20 → give up; 20 sleeps happened before that
    assert transport.calls == 21 and sleeps == [3600.0] * 20
    assert not (tmp_path / "staged.csv").exists()


def test_fetch_timestamps_from_injected_clock(tmp_path):
    ticks = iter(
        [
            datetime.datetime(2024, 1, 1, 0, 0, 0),
            datetime.datetime(2024, 1, 1, 0, 0, 42),
        ]
    )
    res = fetch_with_retry(
        "http://example.invalid/f",
        str(tmp_path / "f"),
        transport=lambda url: b"x",
        clock=lambda: next(ticks),
    )
    assert res.download_duration.total_seconds() == 42

