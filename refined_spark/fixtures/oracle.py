"""Row-at-a-time NumPy oracle — the "reference rule" the Spark pipeline is
gated against (pairwise F1 >= 0.99, BASELINE.json).

Independent re-implementation of the reference's per-document semantics:

- candidate generation incl. sequential forward person-name coreference
  (/root/reference/src/refined/doc_preprocessing/candidate_generator.py:37-121:
  pem lookup on normalized surface, person short-name registration for human
  candidates with pem > 0.05 capped at 0.80, direct+indirect merge sorted by
  prob desc with stable dedup by qcode keeping max)
- pairwise scoring (the deterministic stand-in for
  /root/reference/src/refined/model_components/entity_disambiguation_layer.py:36-119:
  feature vector [class_overlap, pem, class_dist, desc_score] . weights,
  pem==0 mask to -1e8, no-description mask to -100, NOTA logit 0, softmax,
  argmax, ED threshold 0.15)
- transitive clustering via union-find on mention -> accepted-entity edges
  (the Spark pipeline computes the same components with iterative
  large-star/small-star joins).

This module is deliberately sequential, dict-based Python — structurally
unlike the Spark implementation — so agreement between the two is a real
check, not shared code.
"""

from __future__ import annotations

import numpy as np

from .. import config
from ..functions.embed import hash_embed
from ..functions.normalize import normalize_surface_form


def sort_candidates(cands):
    """Canonical candidate order: prob desc, qcode asc (deterministic ties)."""
    return sorted(cands, key=lambda c: (-c[1], c[0]))


def get_candidates_for_doc(spans, pem, human_qcodes, backward=False):
    """spans: list of dicts with mention_text, sorted by start. Returns
    {(start): [(qcode, prob, source)]} following the reference's forward
    coreference protocol (candidate_generator.py:37-121).

    ``backward=True`` replays the reference's 2-pass ``backward_coref``
    (candidate_generator.py:123-159): a registration-only pre-pass over
    the whole doc, then the normal forward loop."""
    person_coref: dict[str, list[tuple[str, float]]] = {}
    if backward:
        for sp in spans:
            sf_norm = normalize_surface_form(sp["mention_text"],
                                             remove_the=True)
            direct = pem.get(sf_norm)
            if direct is None:
                continue
            short_name_cands = [
                (q, min(p, config.PERSON_COREF_PEM_CAP))
                for q, p in direct
                if q in human_qcodes and p > config.PERSON_COREF_PEM_MIN
            ]
            words = sf_norm.split(" ")
            if short_name_cands and len(words) > 1:
                for w in words:
                    person_coref[w] = short_name_cands
    out = {}
    for sp in spans:
        sf_norm = normalize_surface_form(sp["mention_text"], remove_the=True)
        direct = pem.get(sf_norm)
        if direct is None:
            if sf_norm in person_coref:
                out[sp["start"]] = [
                    (q, p, "coref") for q, p in person_coref[sf_norm]
                ][: config.MAX_CANDIDATES]
            else:
                out[sp["start"]] = []
            continue

        # register short names for human candidates
        short_name_cands = [
            (q, min(p, config.PERSON_COREF_PEM_CAP))
            for q, p in direct
            if q in human_qcodes and p > config.PERSON_COREF_PEM_MIN
        ]
        words = sf_norm.split(" ")
        if short_name_cands and len(words) > 1:
            for w in words:
                person_coref[w] = short_name_cands

        if sf_norm in person_coref:
            merged = sorted(
                [(q, p, "direct") for q, p in direct]
                + [(q, p, "coref") for q, p in person_coref[sf_norm]],
                key=lambda c: -c[1],  # stable: direct precedes coref on ties
            )
            seen, cands = set(), []
            for q, p, src in merged:
                if q not in seen:
                    seen.add(q)
                    cands.append((q, p, src))
        else:
            cands = [(q, p, "direct") for q, p in direct]
        out[sp["start"]] = cands[: config.MAX_CANDIDATES]
    return out


def candidates_rows(gold_spans, pem, human_qcodes, backward=False):
    """Expected candidate rows (url, start, qcode, prob, cand_source,
    cand_rank) over an arbitrary span corpus — the candidate-stage slice
    of :func:`run_oracle`, parameterized on the coref direction so the
    backward fixture gate has an independent sequential replay."""
    spans_by_url: dict[str, list] = {}
    for sp in gold_spans:
        spans_by_url.setdefault(sp["url"], []).append(sp)
    rows = []
    for url in sorted(spans_by_url):
        spans = sorted(spans_by_url[url], key=lambda s: s["start"])
        cand_map = get_candidates_for_doc(spans, pem, human_qcodes,
                                          backward=backward)
        for sp in spans:
            for rank, (q, p, src) in enumerate(cand_map[sp["start"]], 1):
                rows.append(dict(url=url, start=sp["start"], qcode=q,
                                 prob=p, cand_source=src, cand_rank=rank))
    return rows


def score_mention(cands, ctx_word, emb_by_qcode, closure_by_qcode,
                  topic_class, weights, et=None):
    """Returns (logits list, softmax probs incl. NOTA last).

    ``et`` switches the class features to the entity-typing protocol:
    a dict {"conf_by_ctx": {ctx_word: np.ndarray}, "sq_by_ctx":
    {ctx_word: float}} (from entity_typing.et_conf_matrix — the SAME
    numpy code the Spark UDF runs). Class delta/dist replay the Spark
    Column folds term-for-term in class-index order, so parity is
    bit-exact."""
    m_emb = hash_embed(ctx_word) if ctx_word else None
    t_cls = topic_class.get(ctx_word) if ctx_word else None
    conf = et["conf_by_ctx"].get(ctx_word) if (et and ctx_word) else None
    logits = []
    for qcode, pem_v, _src in cands:
        if pem_v == 0.0:
            logits.append(config.PEM_ZERO_MASK)
            continue
        emb = emb_by_qcode.get(qcode)
        if emb is None or not np.any(emb):
            desc_score = config.NO_DESC_MASK
        elif m_emb is None:
            desc_score = 0.0
        else:
            # float64 accumulation to match the Spark-side zip_with/aggregate
            desc_score = float(np.dot(emb.astype(np.float64),
                                      m_emb.astype(np.float64)))
        if et is None:
            overlap = 1.0 if (t_cls is not None and t_cls in closure_by_qcode.get(qcode, ())) else 0.0
            dist = 1.0 - overlap
        else:
            # neutral (0,0) only when the confidence row is missing
            # (null-ctx mention) or the candidate has no class row
            # (unknown entity, NULL class_idx Spark-side); an EMPTY
            # class list is a real indicator vector — dist = sqrt(Σconf²)
            classes = closure_by_qcode.get(qcode)
            if conf is None or classes is None:
                overlap = 0.0  # class_delta slot
                dist = 0.0
            else:
                overlap = 0.0
                corr = 0.0
                for c in sorted(classes):  # sequential in class-idx order
                    overlap = overlap + float(conf[c])
                    corr = corr + (1.0 - 2.0 * float(conf[c]))
                dist = float(np.sqrt(et["sq_by_ctx"][ctx_word] + corr))
        logits.append(
            weights["class_overlap"] * overlap
            + weights["pem"] * pem_v
            + weights["class_dist"] * dist
            + weights["desc_score"] * desc_score
            + weights["bias"]
        )
    full = np.array(logits + [0.0], dtype=np.float64)  # NOTA appended
    x = full - full.max()
    probs = np.exp(x)
    probs /= probs.sum()
    return logits, probs


def link_doc(spans, cand_map, emb_by_qcode, closure_by_qcode, topic_class,
             weights, et=None):
    """Per-mention winner: (pred_qcode | None, confidence)."""
    links = {}
    for sp in spans:
        cands = cand_map[sp["start"]]
        if not cands:
            links[sp["start"]] = (None, 0.0)
            continue
        _logits, probs = score_mention(
            cands, sp.get("ctx_word"), emb_by_qcode, closure_by_qcode,
            topic_class, weights, et=et,
        )
        win = int(np.argmax(probs))  # first occurrence on ties; NOTA last
        conf = float(probs[win])
        if win == len(cands) or conf < config.ED_THRESHOLD:
            links[sp["start"]] = (None, conf)
        else:
            links[sp["start"]] = (cands[win][0], conf)
    return links


def topk_doc(spans, cand_map, emb_by_qcode, closure_by_qcode, topic_class,
             weights, k: int = 5):
    """Per-mention sorted top-k (qcode|'Q-1', softmax score round 4) —
    the sequential replay of the reference's top_k_predicted_entities
    (processor.py:366-397): softmax incl. NOTA, sort desc with stable
    first-occurrence tie-break."""
    out = {}
    for sp in spans:
        cands = cand_map[sp["start"]]
        _logits, probs = score_mention(
            cands, sp.get("ctx_word"), emb_by_qcode, closure_by_qcode,
            topic_class, weights,
        )
        names = [q for q, _p, _s in cands] + ["Q-1"]
        order = sorted(range(len(names)), key=lambda i: (-probs[i], i))
        out[sp["start"]] = [
            (names[i], round(float(probs[i]), 4)) for i in order[:k]
        ]
    return out


class UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x):
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def mention_key(url: str, start: int) -> str:
    return f"{url}:{start:08d}"


def run_oracle(documents, gold_spans, pem_rows, entities, emb_rows, weights_rows,
               topic_class_rows):
    """Compute expected_candidates / expected_links / expected_clusters.

    documents: list of dicts (url, text); gold_spans: list of dicts
    (url, start, length, mention_text, ctx_word); pem_rows: (surface_form,
    qcode, prob); entities: dicts with qcode, class_idx, is_human;
    emb_rows: (qcode_idx, desc_emb) with entities carrying qcode_idx.
    """
    pem: dict[str, list[tuple[str, float]]] = {}
    for r in pem_rows:
        pem.setdefault(r["surface_form"], []).append((r["qcode"], r["prob"]))
    for k in pem:
        pem[k] = sort_candidates(pem[k])

    human_qcodes = {e["qcode"] for e in entities if e["is_human"]}
    closure_by_qcode = {e["qcode"]: set(e["class_idx"]) for e in entities}
    idx_to_qcode = {e["qcode_idx"]: e["qcode"] for e in entities}
    emb_by_qcode = {
        idx_to_qcode[r["qcode_idx"]]: np.asarray(r["desc_emb"], dtype=np.float32)
        for r in emb_rows
        if r["qcode_idx"] in idx_to_qcode
    }
    weights = {r["feature"]: r["weight"] for r in weights_rows}
    topic_class = {r["topic"]: r["class_idx"] for r in topic_class_rows}

    spans_by_url: dict[str, list] = {}
    for sp in gold_spans:
        spans_by_url.setdefault(sp["url"], []).append(sp)

    cand_out, link_out = [], []
    uf = UnionFind()
    for url in sorted(spans_by_url):
        spans = sorted(spans_by_url[url], key=lambda s: s["start"])
        cand_map = get_candidates_for_doc(spans, pem, human_qcodes)
        links = link_doc(spans, cand_map, emb_by_qcode, closure_by_qcode,
                         topic_class, weights)
        for sp in spans:
            mk = mention_key(url, sp["start"])
            for rank, (q, p, src) in enumerate(cand_map[sp["start"]], 1):
                cand_out.append(
                    dict(url=url, start=sp["start"], qcode=q, prob=p,
                         cand_source=src, cand_rank=rank)
                )
            pred, conf = links[sp["start"]]
            link_out.append(
                dict(url=url, start=sp["start"], pred_qcode=pred,
                     confidence=conf)
            )
            uf.find(mk)  # ensure singleton node exists
            if pred is not None:
                uf.union(mk, "e:" + pred)

    # cluster id = min MENTION key per component
    comp_members: dict[str, list[str]] = {}
    for sp_url in spans_by_url:
        for sp in spans_by_url[sp_url]:
            mk = mention_key(sp_url, sp["start"])
            comp_members.setdefault(uf.find(mk), []).append(mk)
    cluster_out = []
    for _root, members in comp_members.items():
        cid = min(members)
        for mk in members:
            url, start = mk.rsplit(":", 1)
            cluster_out.append(dict(url=url, start=int(start), cluster_id=cid))
    return cand_out, link_out, cluster_out
