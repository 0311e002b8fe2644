#!/usr/bin/env python3
"""Plan-shape gate: no UNPARTITIONED Window may sort a corpus-sized frame.

Walks PLANS.md and flags every `Window` node with no PARTITION BY whose
input subtree reaches a `FileScan` without first passing a bounding
node (an aggregate, a limit, or a window-group-limit). Such a window is
an `Exchange SinglePartition` funnel: one task sorts a frame that grows
with the corpus — driver-green at sf0.1, dead at 100 TB. Windows over
AGGREGATED frames (distinct-value cells, per-partition offset frames,
pair/score group counts) and over LIMIT results are the sanctioned
shapes (the t_eval_auc / q_abc_pareto / s_graph_link_predict
precedents) and pass.

It also asserts the ROUTED plan of every rewrite-arm catalog query
(ROUTED below): PLANS.md is dumped on the shipped session
(GraftSession.create), so MvRewriteRule must have replaced the base-table
join or sketch aggregate with a read of the registered view.

Usage: python3 tools/check_plans.py [PLANS.md]
Exit 0 = gate green; exit 1 = at least one offender (listed).
"""
import re
import sys

# nodes whose OUTPUT cardinality is bounded (or corpus-independent):
# everything beneath them is excused for this audit
LIMITS = re.compile(
    r'\b(TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit|'
    r'WindowGroupLimit)\b')
AGG = re.compile(
    r'\b(HashAggregate|ObjectHashAggregate|SortAggregate)\((keys=\[[^\]]*\])?')
# an aggregate keyed on an entity-id column (user_id, doc_id, *_key,
# okey...) has corpus-proportional output — it does NOT bound the frame;
# value-/bucket-/pid-keyed aggregates do (distinct scores, offsets,
# cells: the t_eval_auc / q_abc_pareto sanctioned frames)
IDKEY = re.compile(r'(_id|key)\s*#', re.I)
SCAN = re.compile(r'\bFileScan\b')

JOIN = r'\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b'
# a scan of the sketch view reads its stored-register column `sk`
SKETCH_VIEW_SCAN = r'\bFileScan parquet \[[^\]]*\bsk#'
# (query, must-match?, regex, what it proves)
ROUTED = [
    ('q_mv_join_rewrite', False, JOIN,
     'the join view serves the query: no join of the two base scans runs'),
    ('q_mv_join_rewrite', True, r'\bFileScan parquet \[[^\]]*\bsgn#',
     'the signed join view is scanned'),
    ('q_mv_join_rewrite', True, r'\breplicaterows\(sgn#',
     "the view is served through its net (bag multiplicity restored)"),
    # the per-day arm only: the all-days row's `-1 AS day` literal is folded
    # into its aggregate, which MvRewriteRule does not map, so it still scans
    ('q_mv_sketch_rewrite', False, r'Aggregate\(keys=\[day#\w+\], functions=\[(partial_)?hll_sketch_agg\(',
     'no per-day hll_sketch_agg runs over the base scan'),
    ('q_mv_sketch_rewrite', True, SKETCH_VIEW_SCAN,
     'the sketch view is scanned'),
    ('q_mv_sketch_slice', False, r'\bhll_sketch_agg\(',
     'no hll_sketch_agg runs over the base scan'),
    ('q_mv_sketch_slice', True, SKETCH_VIEW_SCAN,
     'the sketch view is scanned'),
]


def routed_offenders(secs):
    """(query, what) for every ROUTED assertion the dumped plan breaks."""
    out = []
    for name, must, pattern, what in ROUTED:
        if name not in secs:
            out.append((name, 'no plan section in PLANS.md'))
            continue
        found = any(re.search(pattern, line) for line in secs[name])
        if found != must:
            out.append((name, f'not routed: expected {what}'))
    return out


def is_blocker(line):
    if LIMITS.search(line):
        return True
    m = AGG.search(line)
    if m:
        keys = m.group(2) or ''
        return not IDKEY.search(keys)
    return False


def sections(path):
    out, cur = {}, None
    for line in open(path, encoding='utf-8'):
        m = re.match(r'^## (\S+)', line)
        if m:
            cur = m.group(1)
            out[cur] = []
        elif cur is not None and not line.startswith('```'):
            out[cur].append(line.rstrip('\n'))
    return out


def depth(line):
    """Column of the node marker; the plan root has depth -1."""
    m = re.search(r'[+:]- ', line)
    if m:
        return m.start()
    return -1 if line.strip() else None


def top_level_groups(s):
    """Top-level [...] group contents in a plan-node argument string."""
    groups, d, cur = [], 0, []
    for ch in s:
        if ch == '[':
            if d == 0:
                cur = []
            d += 1
            if d == 1:
                continue
        elif ch == ']':
            d -= 1
            if d == 0:
                groups.append(''.join(cur))
                continue
        if d >= 1:
            cur.append(ch)
    return groups


def unpartitioned_window(line):
    """The plan prints `Window [exprs](, [partitionSpec])(, [orderSpec])`.
    Three groups = partitioned. Two groups are partitioned iff the
    second is a plain column list (an orderSpec carries ASC/DESC NULLS
    markers). One group = no PARTITION BY at all."""
    m = re.search(r'\bWindow (\[.*)$', line)
    if not m:
        return False
    groups = top_level_groups(m.group(1))
    if len(groups) >= 3:
        return False
    if len(groups) == 2:
        return bool(re.search(r'\b(ASC|DESC) NULLS\b', groups[1]))
    return True


def scan_reachable(lines, start, wdepth):
    """True if a FileScan is reachable below lines[start] without
    passing a blocker node. Subtree = following lines deeper than
    wdepth; a blocker excuses its own subtree."""
    skip_depth = None
    for line in lines[start + 1:]:
        d = depth(line)
        if d is None:
            continue
        if d <= wdepth:
            break  # left the window's subtree
        if skip_depth is not None:
            if d > skip_depth:
                continue
            skip_depth = None
        if is_blocker(line):
            skip_depth = d
        elif SCAN.search(line):
            return True
    return False


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else 'PLANS.md'
    secs = sections(path)
    offenders = []
    for name, lines in secs.items():
        for i, line in enumerate(lines):
            if unpartitioned_window(line):
                d = depth(line)
                if d is not None and scan_reachable(lines, i, d):
                    offenders.append((name, line.strip()[:100]))
                    break
    unrouted = routed_offenders(secs)
    if offenders:
        print(f'PLAN GATE RED: {len(offenders)} quer'
              f'{"y" if len(offenders) == 1 else "ies"} run an '
              f'unpartitioned Window over a corpus-reachable frame:')
        for name, frag in offenders:
            print(f'  {name}: {frag}')
    if unrouted:
        print(f'PLAN GATE RED: {len(unrouted)} rewrite-arm plan assertion'
              f'{"" if len(unrouted) == 1 else "s"} failed:')
        for name, what in unrouted:
            print(f'  {name}: {what}')
    if offenders or unrouted:
        sys.exit(1)
    print('PLAN GATE GREEN: no unpartitioned Window sorts a '
          'corpus-sized frame; every rewrite-arm query reads its view')


if __name__ == '__main__':
    main()
