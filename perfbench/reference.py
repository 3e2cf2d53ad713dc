"""Driver-side reference answers the correctness gates compare against."""

from __future__ import annotations


def min_label_components(vertices, edges) -> dict[str, str]:
    """Union-find over ``edges``: vertex -> smallest vertex of its
    component (the label ``plans.linking.connected_components`` gives)."""
    parent = {v: v for v in vertices}

    def find(v):
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:
            parent[v], v = root, parent[v]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {v: find(v) for v in parent}
