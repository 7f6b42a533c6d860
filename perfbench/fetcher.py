"""The backfill's offline REST source: canned aggTrades responses.

Kept free of heavy imports: Spark's Python workers import it by name to
unpickle the fetcher, inside the timed backfill.
"""


class CannedFetcher:
    """``fetcher(symbol, start_ms, end_ms, limit)`` over responses computed
    ahead of time, keyed by (symbol, start_ms): a REST endpoint that costs
    the pass nothing but the program's own fetch machinery."""

    def __init__(self, responses: dict):
        self.responses = responses

    def __call__(self, symbol: str, start_ms: int, end_ms: int, limit: int) -> list[dict]:
        return self.responses.get((symbol, start_ms), [])[:limit]
