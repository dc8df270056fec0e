"""Executor-parallel document fetching (S1/S2 shape).

Reference: download_abs/download_doc fetch one PubTator/BioC document
per id over HTTP (src/renet2/download_data.py:10-75) and
download_from_lst_hd fans the id list over a multiprocessing.Pool with
hit/miss/empty accounting (download_data.py:77-109).

Spark-first re-expression: the id table partitions across executors
and each Arrow batch is fetched inside mapInPandas — executor
parallelism replaces the process pool, and the hit/miss accounting is
an ordinary grouped aggregation over the returned status column
(download_data.py:103-107). The TRANSPORT is a callable
id -> (status, body): :func:`urllib_transport` is the default real
HTTP path (urllib + timeout + bounded retry/backoff, the semantics of
download_data.py:10-75), and injection stays supported so the engine
is testable without network and swappable for requests/S3.

Scale notes: fetches are embarrassingly parallel; the only knobs are
partition count (ids.repartition(n) bounds concurrent connections) and
Arrow batch size. A polite production transport rate-limits per
executor — the reference used a 3-process pool for the same reason
(download_data.py:77-86).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATUS_HIT = "hit"      # download_data.py hit_list
STATUS_MISS = "miss"    # request failed
STATUS_EMPTY = "empty"  # fetched but no content

_FETCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("body", T.StringType()),
    ]
)


def urllib_transport(
    url_template: str,
    timeout: float = 10.0,
    backoff: float = 0.5,
) -> Callable[[str], tuple[str, str]]:
    """Default HTTP transport: GET url_template.format(id=doc_id) with
    a per-request timeout and bounded retry/backoff. Reference
    semantics (download_data.py:10-75): a 2xx response with content is
    a hit; a 2xx response with no content is 'empty' (the reference's
    empty list); 404 is an immediate miss (the id does not exist —
    retrying cannot help); transient errors (5xx, timeouts,
    connection resets) retry up to 3 times with linear
    backoff, then miss. The returned closure is picklable and runs
    inside executor Python workers (fetch_documents/mapInPandas)."""

    def fetch(doc_id: str) -> tuple[str, str]:
        import http.client
        import time
        import urllib.error
        import urllib.request

        url = url_template.format(id=doc_id)
        for attempt in range(3):
            wait = backoff * (attempt + 1) if backoff else 0.0
            try:
                with urllib.request.urlopen(url, timeout=timeout) as resp:
                    body = resp.read().decode("utf-8", "replace")
                return (STATUS_HIT, body) if body.strip() else (STATUS_EMPTY, "")
            except urllib.error.HTTPError as e:
                # 408 (timeout) and 429 (rate limit) are transient ->
                # retry like 5xx, honoring Retry-After on 429 when the
                # server sends one (r4 ADVICE); other 4xx cannot succeed
                # on retry -> immediate miss
                if e.code in (408, 429):
                    ra = e.headers.get("Retry-After") if e.headers else None
                    if ra and str(ra).strip().isdigit():
                        wait = min(float(ra), 30.0)
                elif 400 <= e.code < 500:
                    return STATUS_MISS, ""
            except (urllib.error.URLError, OSError, http.client.HTTPException):
                # transport-level failures retry: DNS/refused/reset/
                # socket timeout (URLError/OSError — TimeoutError is an
                # OSError subclass) AND malformed server responses
                # (http.client.BadStatusLine / IncompleteRead etc.,
                # which subclass HTTPException, not OSError). Anything
                # else — e.g. a malformed url_template raising
                # ValueError — is a programming error and must RAISE,
                # not report miss (r4 ADVICE: the bare `except
                # Exception` here converted bugs into silent
                # retries-then-miss)
                pass
            if wait and attempt + 1 < 3:
                time.sleep(wait)
        return STATUS_MISS, ""

    return fetch


def fetch_documents(
    ids: DataFrame,
    transport: Callable[[str], tuple[str, str]],
    partitions: int | None = None,
) -> DataFrame:
    """ids(doc_id) -> (doc_id, status, body) via the injected transport,
    executed per Arrow batch on executors."""
    src = ids.select(F.col("doc_id").cast("string").alias("doc_id"))
    if partitions:
        src = src.repartition(partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "status": [], "body": []}
            for doc_id in pdf["doc_id"]:
                try:
                    status, body = transport(doc_id)
                except Exception:
                    status, body = STATUS_MISS, ""
                out["doc_id"].append(doc_id)
                out["status"].append(status)
                out["body"].append(body)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=_FETCH_SCHEMA)


def fetch_accounting(fetched: DataFrame) -> DataFrame:
    """(status, n) hit/miss/empty counts (download_data.py:103-107)."""
    return fetched.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n")
    )
