"""Span arithmetic: self time, union coverage and attribution."""

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer, attributed_share, covered, self_times  # noqa: E402


def _span(sid, parent, start, end, thread=1, name="s"):
    return {"id": sid, "name": name, "parent": parent, "thread": thread,
            "start": start, "end": end, "attrs": {}}


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0
    assert covered([(3, 3), (4, 2)], 0, 10) == 0


def test_self_time_with_overlapping_background_children():
    # parent 0..10 on the main thread; two background children on other
    # threads overlap each other (2..6 and 4..8) and a main-thread child
    # (7..9) overlaps the second one: covered = 2..9 = 7
    spans = [_span(1, None, 0, 10),
             _span(2, 1, 2, 6, thread=2),
             _span(3, 1, 4, 8, thread=3),
             _span(4, 1, 7, 9, thread=1)]
    st = self_times(spans)
    assert st[1] == 3
    assert st[2] == 4 and st[3] == 4 and st[4] == 2


def test_child_outliving_parent_is_clipped():
    spans = [_span(1, None, 0, 4), _span(2, 1, 3, 9, thread=2)]
    assert self_times(spans)[1] == 3


def test_attributed_share_counts_only_the_callers_thread():
    # main-thread descendants cover 0..3 and 5..6 (nested under a bg
    # span's sibling); the bg thread's span does not count
    spans = [_span(1, None, 0, 10),
             _span(2, 1, 0, 3),
             _span(3, 2, 1, 2),
             _span(4, 1, 2, 9, thread=2),
             _span(5, 1, 5, 6)]
    assert attributed_share(spans, spans[0]) == 0.4


def test_tracer_parents_across_threads():
    tr = Tracer()
    outer = tr.begin("outer")
    launcher = tr.current()

    def work():
        s = tr.begin("bg", parent=launcher)
        inner = tr.wrap("inner", lambda: time.sleep(0.001))
        inner()
        tr.end(s)

    t = threading.Thread(target=work)
    t.start()
    t.join()
    tr.end(outer)
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["bg"]["parent"] == by_name["outer"]["id"]
    assert by_name["inner"]["parent"] == by_name["bg"]["id"]
    assert by_name["bg"]["thread"] != by_name["outer"]["thread"]
    assert by_name["outer"]["parent"] is None
