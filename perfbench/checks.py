"""Output checks. Each returns None for a correct pass or a one-line
reason; a wrong pass counts as failed."""
import glob
import hashlib
import os

# sha256 of pagerank_top_50.txt at the default seed, for the graph size in
# Harness.workload; a change of size needs a new recorded hash
TOP50_SHA256_DEFAULT_SEED = (
    "442506b27fe444d094a47eed0cbc68aa6490fe366df380e98ba98e734a34c14e")


def _lines(pattern):
    for path in sorted(glob.glob(pattern)):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield line


def snap_endpoints(input_dir):
    ids = set()
    for line in _lines(os.path.join(input_dir, "part-*")):
        s, d = line.split()[:2]
        ids.add(int(s))
        ids.add(int(d))
    return len(ids)


def pagerank_pass(out, n_vertices, seed, default_seed):
    """The CLI's outputs: rank mass, superstep count, one final_scores line
    per distinct endpoint, and the top 50 re-sorted from final_scores."""
    with open(os.path.join(out, "iteration_trace.csv")) as f:
        trace = [r.split(",") for r in f.read().split("\n")[1:] if r]
    with open(os.path.join(out, "_timings.csv")) as f:
        steps = [r for r in f.read().split("\n") if r.startswith("Superstep_")]
    if not trace or len(trace) != len(steps):
        return f"superstep count: trace {len(trace)} vs timings {len(steps)}"
    if not 5 <= len(trace) <= 10:
        return f"{len(trace)} supersteps outside minIter 5 .. maxIter 10"
    mass = float(trace[-1][3])
    if abs(mass - 1.0) > 1e-9:
        return f"rank mass {mass!r} is not 1 within 1e-9"
    scores = [ln.split("\t") for ln in _lines(os.path.join(out, "final_scores", "part-*"))]
    if len(scores) != n_vertices:
        return f"final_scores has {len(scores)} lines for {n_vertices} endpoints"
    want = sorted(scores, key=lambda r: (-float(r[1]), int(r[0])))[:50]
    top_path = os.path.join(out, "pagerank_top_50.txt")
    with open(top_path) as f:
        got = [ln.split("\t") for ln in f.read().split("\n") if ln]
    if got != want:
        return "pagerank_top_50.txt differs from the top 50 of final_scores"
    if seed == default_seed:
        with open(top_path, "rb") as f:
            h = hashlib.sha256(f.read()).hexdigest()
        if h != TOP50_SHA256_DEFAULT_SEED:
            return f"pagerank_top_50.txt hash {h} differs from the recorded one"
    return None


def portable_edges(n_vertices, n_edges, salt, shift=0):
    """SyntheticGraph.portable regenerated from its md5 definition."""
    def endpoint(i, tag):
        key = f"{i}:{tag}:{salt}".encode()
        return int(hashlib.md5(key).hexdigest()[:8], 16) % n_vertices + shift
    return [(endpoint(i, "s"), endpoint(i, "d")) for i in range(n_edges)]


def modularity(edges, labels):
    """GraphBuilder.modularity over the undirected simple graph, rounded
    to 9 places."""
    ue = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    ue = {(u, v) for u, v in ue if u in labels and v in labels}
    m = len(ue)
    intra = sum(1 for u, v in ue if labels[u] == labels[v])
    deg = {}
    for u, v in ue:
        deg[labels[u]] = deg.get(labels[u], 0) + 1
        deg[labels[v]] = deg.get(labels[v], 0) + 1
    q = intra / m - sum(d * d for d in deg.values()) / (4.0 * m * m)
    return round(q, 9)


def tiny_pass(detail, fx):
    """Louvain communities stay inside their planted block and report the
    modularity recomputed here."""
    labels = {i: c for i, c in detail["louvain"]}
    block_v = fx["block_v"]
    side = {}
    for v, c in labels.items():
        if side.setdefault(c, v < block_v) != (v < block_v):
            return f"Louvain community {c} crosses the planted blocks"
    q = modularity(fx["blocks"], labels)
    if detail["q_r"] is None or abs(q - detail["q_r"]) > 1e-9:
        return f"Louvain q_r {detail['q_r']} vs recomputed {q}"
    return None


def tiny_fixtures(inputs):
    """The planted two-block graph, regenerated as
    SyntheticGraph.portableBlocks builds it."""
    blocks = (portable_edges(inputs["block_v"], inputs["block_e"],
                             inputs["louvain_salt"] + "A")
              + portable_edges(inputs["block_v"], inputs["block_e"],
                               inputs["louvain_salt"] + "B",
                               shift=inputs["block_v"]))
    return {"block_v": inputs["block_v"], "blocks": blocks}
