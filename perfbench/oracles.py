"""Untimed output checks. Pure Python over plain values collected from the
engine's store, so the benchmark's own tests can feed them corrupted
outputs without a Spark session.

Every check returns a `Check`: how many operations it covers, how many of
them came out different from the oracle, and a few readable problems.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Check:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def note(self, n: int, msg: str) -> None:
        if n:
            self.failed = min(self.attempted, self.failed + n)
            if len(self.problems) < 20:
                self.problems.append(msg)


def check_crawl(
    engine_seen: dict[str, tuple[int, int]],
    golden_seen: dict[str, int],
    golden_errors: set[str],
    typed_rows: dict[str, int],
    golden_typed: dict[str, int],
    timed_rounds: set[int],
) -> Check:
    """A crawl against the golden simulation of the same site and budget.

    engine_seen: url -> (round fetched, status) from the store's url_seen.
    golden_seen: url -> round fetched; golden_errors: urls that answer non-200.
    typed_rows / golden_typed: rows of projects, persons, institutions.
    Operations are the golden pages of `timed_rounds`; a page fails when the
    engine fetched it in another round, with another status class, or not
    at all. Extra engine pages and typed-row differences fail too."""
    chk = Check(attempted=sum(1 for r in golden_seen.values() if r in timed_rounds))
    wrong = [u for u, r in golden_seen.items()
             if u not in engine_seen or engine_seen[u][0] != r
             or (engine_seen[u][1] != 200) != (u in golden_errors)]
    chk.note(len(wrong), f"{len(wrong)} pages differ from the golden crawl, e.g. {wrong[:2]}")
    extra = [u for u in engine_seen if u not in golden_seen]
    chk.note(len(extra), f"{len(extra)} pages the golden crawl never fetches, e.g. {extra[:2]}")
    eng_rounds = Counter(r for r, _ in engine_seen.values())
    gold_rounds = Counter(golden_seen.values())
    if eng_rounds != gold_rounds:
        chk.problems.append(f"per-round fetched counts {dict(sorted(eng_rounds.items()))} "
                            f"!= golden {dict(sorted(gold_rounds.items()))}")
    for table, want in golden_typed.items():
        got = typed_rows.get(table, 0)
        chk.note(abs(got - want), f"{table}: {got} rows, site config gives {want}")
    return chk


def check_revalidate(
    store_pages: dict[str, int],
    expected_pages: dict[str, int],
    due: int,
    round_status: dict[str, int],
    leftover: dict[str, int],
    extracted_rows: int,
) -> Check:
    """One revalidate cycle over an unchanged site.

    store_pages / expected_pages: url -> status of the crawled store and of
    the site config (the setup crawl must have fetched exactly the site).
    due: what enqueue_recrawl staged; round_status: url -> status written by
    the revalidated round; leftover: url -> site status of the frontier the
    setup crawl left, which the same round fetches for the first time.
    Every page that answered 200 is due and must answer 304; nothing may be
    re-extracted."""
    ok_pages = {u for u, s in expected_pages.items() if s == 200}
    chk = Check(attempted=len(ok_pages))
    bad_store = [u for u in expected_pages.keys() | store_pages.keys()
                 if store_pages.get(u) != expected_pages.get(u)]
    chk.note(len(bad_store), f"setup store differs from the site on {len(bad_store)} pages, e.g. {bad_store[:2]}")
    chk.note(abs(due - len(ok_pages)), f"enqueue_recrawl staged {due} pages, {len(ok_pages)} are due")
    want = {**leftover, **dict.fromkeys(ok_pages, 304)}
    wrong = [u for u in want.keys() | round_status.keys() if round_status.get(u) != want.get(u)]
    chk.note(len(wrong), f"{len(wrong)} pages of the revalidated round differ (due pages must "
                         f"answer 304), e.g. {[(u, round_status.get(u), want.get(u)) for u in wrong[:2]]}")
    chk.note(extracted_rows, f"{extracted_rows} typed rows re-extracted from unchanged pages")
    return chk
