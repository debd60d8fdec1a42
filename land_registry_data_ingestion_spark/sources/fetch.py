"""S1/S2: snapshot + incremental fetch orchestration with retry.

The reference downloads ``pp-complete.txt`` / the monthly change file
over HTTP with a fixed discipline (``land_registry_pp_complete_downloader
.py:359-385,476-502``): try, on any failure retry up to 20 times with a
1-hour sleep between attempts, give up after that; a non-200 status is a
failure like any other; download timestamps/durations are recorded.

This layer is DRIVER-side orchestration, deliberately outside Spark: one
file arrives per run, and the cluster enters at the staged file
(``operators/ingest.py``); ``operators/pipeline.run_*_cycle`` composes
fetch, ingest and the archive step. Transport and clock are injected so the policy
is fully testable with no network (the harness has none) and no real
sleeping; production passes ``urllib_transport`` and ``time.sleep``.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Callable
from dataclasses import dataclass

#: transport(url) -> bytes. Raise on any failure (incl. non-200).
Transport = Callable[[str], bytes]


def urllib_transport(url: str) -> bytes:
    """Stdlib HTTP GET; non-200 raises like the reference's
    ``RuntimeError(f'request failure {status}')``."""
    import urllib.request

    with urllib.request.urlopen(url) as resp:  # noqa: S310 (http by design)
        if resp.status != 200:
            raise RuntimeError(f"request failure {resp.status}")
        return resp.read()


@dataclass
class FetchResult:
    path: str  # staged file, ready for ingest_snapshot/-monthly_update
    url: str
    attempts: int  # 1 = first try succeeded
    download_start: datetime.datetime
    download_complete: datetime.datetime

    @property
    def download_duration(self) -> datetime.timedelta:
        return self.download_complete - self.download_start


class FetchFailed(RuntimeError):
    """All retries exhausted (reference returns (False, None, None))."""


def fetch_with_retry(
    url: str,
    dest_path: str,
    transport: Transport = urllib_transport,
    max_retries: int = 20,
    retry_sleep_seconds: float = 3600.0,
    sleep: Callable[[float], None] | None = None,
    clock: Callable[[], datetime.datetime] | None = None,
) -> FetchResult:
    """Download ``url`` to ``dest_path`` under the reference's retry
    policy: up to ``max_retries`` retries (so ``max_retries + 1``
    attempts), sleeping ``retry_sleep_seconds`` between failures.

    The write is atomic (temp file + rename): a crash mid-write never
    leaves a half-staged file for the ingest pipeline to hash.
    """
    if sleep is None:
        import time as _time

        sleep = _time.sleep
    if clock is None:
        clock = lambda: datetime.datetime.now(datetime.timezone.utc)  # noqa: E731

    fail_count = 0
    start = clock()
    while True:
        try:
            data = transport(url)
            break
        except Exception as error:
            fail_count += 1
            if fail_count > max_retries:
                raise FetchFailed(
                    f"download failed after {fail_count} attempts: {error}"
                ) from error
            sleep(retry_sleep_seconds)
    complete = clock()

    tmp = dest_path + ".part"
    os.makedirs(os.path.dirname(dest_path) or ".", exist_ok=True)
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, dest_path)
    return FetchResult(
        path=dest_path,
        url=url,
        attempts=fail_count + 1,
        download_start=start,
        download_complete=complete,
    )

