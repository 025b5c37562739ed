"""Record-server pieces shipped to Spark executors.

Kept in a module with no heavy imports: executors unpickle these by
module path, so importing this module is what each Python worker pays.
Both count into Spark accumulators, so the record server itself reports
how many records it decoded and how many it served.
"""

from __future__ import annotations


def permit_record(row: dict, decoded=None) -> dict:
    """Permit-record parquet row -> Socrata JSON record: every column
    except the ``issue_ts`` filter column the record server prunes on.
    Adds 1 to the ``decoded`` accumulator per row."""
    if decoded is not None:
        decoded.add(1)
    return {k: v for k, v in row.items() if k != "issue_ts"}


class CountingFetch:
    """A record server's ``fetch`` that adds the number of records each
    request returns to the ``served`` accumulator."""

    def __init__(self, fetch, served) -> None:
        self.fetch = fetch
        self.served = served

    def __call__(self, url: str, params: dict[str, str]) -> list[dict]:
        recs = self.fetch(url, params)
        self.served.add(len(recs))
        return recs
