"""The result checker reports an altered expected result as a failure.

    python3 -m pytest perfbench/test_check.py
"""

from check import Tally, check_hits, hit_record

HITS = [("https://a.example/1", 7.25), ("https://a.example/2", 6.5),
        ("https://a.example/3", 6.5)]


def test_recorded_result_passes():
    assert check_hits(HITS, 10, expected=hit_record(HITS)) == []


def test_altered_expected_result_is_a_failure():
    altered = [
        [HITS[0], (HITS[1][0], 6.500001), HITS[2]],   # one score's bits
        [HITS[0], HITS[2], HITS[1]],                  # rank order
        [("https://a.example/9", 7.25)] + HITS[1:],   # a key
        HITS[:2],                                     # a missing row
    ]
    for alt in altered:
        tally = Tally()
        tally.outcome("0:term", check_hits(HITS, 10,
                                           expected=hit_record(HITS)))
        tally.outcome("0:bool_should", check_hits(
            HITS, 10, expected=hit_record(alt)))
        assert (tally.attempted, tally.failed) == (2, 1), alt
        assert tally.problems[0][0] == "0:bool_should"


def test_invariants_without_a_recording():
    assert check_hits(HITS, 2)                               # over k
    assert check_hits(HITS[::-1], 10)                        # not sorted
    assert check_hits(HITS, 10, dead={"https://a.example/2"})
    assert check_hits(HITS, 10, versions={"https://a.example/1": 2},
                      row_versions=[1, 0, 0])                # superseded
    assert check_hits(HITS[:1] + HITS[:1], 10)               # duplicate key
