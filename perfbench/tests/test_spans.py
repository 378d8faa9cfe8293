import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import spans  # noqa: E402


def span(i, parent, start, end, name="s", op=0):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(spans.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(spans.union_ms([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(spans.union_ms([], 0, 100), 0)
        self.assertEqual(spans.union_ms([(200, 300)], 0, 100), 0)

    def test_synthetic_tree(self):
        # op [0,100): children a [10,40) and b [30,70) overlap by 10;
        # a has a grandchild [15,25); b holds a job event [35,45) and a
        # task counter that must not count as covered time
        tree = [span(0, -1, 0, 100, "op"), span(1, 0, 10, 40, "a"),
                 span(2, 0, 30, 70, "b"), span(3, 1, 15, 25, "a.inner")]
        events = [{"kind": "job", "name": "job", "start_ms": 35, "end_ms": 45,
                   "values": {}},
                  {"kind": "task", "name": "task", "start_ms": 50,
                   "end_ms": 60, "values": {}}]
        att = spans.attach(tree, events)
        self.assertEqual([e["kind"] for e in att[2]], ["job", "task"])
        st = spans.self_times(tree, att)
        self.assertEqual(st[0], 100 - 60)   # covered: [10,70)
        self.assertEqual(st[1], 30 - 10)
        self.assertEqual(st[2], 40 - 10)    # job [35,45) inside b
        self.assertEqual(st[3], 10)
        by = spans.self_by_name(tree, att)
        self.assertAlmostEqual(by["op"], 0.040)

    def test_attach_picks_innermost(self):
        tree = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 1, 20, 30)]
        ev = {"kind": "phase", "name": "analysis", "start_ms": 22,
              "end_ms": 24, "values": {}}
        outside = dict(ev, start_ms=150, end_ms=160)
        att = spans.attach(tree, [ev, outside])
        self.assertEqual(att[2], [ev])
        self.assertEqual(att[0] + att[1], [])


if __name__ == "__main__":
    unittest.main()
