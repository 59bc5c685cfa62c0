"""External rerank arms — `rerank=flashrank` and `rerank=remote`
orchestration (vexor/services/search_service.py:233-278 flashrank,
:302-410 remote), behind import gates like the S5 extractors.

Both arms share one shape with the legacy bm25 arm (retrieval.
weighted_rerank_search): clamp the dense ranking to max(20, min(2k,
150)) candidates (a distributed TakeOrderedAndProject — the only
corpus-scale step), hand the ≤150-row micro-list to an EXTERNAL scorer,
re-sort by its verdict, truncate to k. The external call is inherently
driver-side in the reference too (search_service.py reranks the
candidate list in-process), so there is nothing to distribute beyond
the clamp; at 100 TB the clamp is the part that must scale and it
reuses the same TakeOrdered plan as every other arm.

Sandbox honesty: neither the `flashrank` package nor a rerank HTTP
endpoint exists here, so the real legs raise the reference's error
shape (RuntimeError on missing import / failed request) and tests
inject deterministic fakes — the SAME fake into the reference's own
`_apply_flashrank_rerank` / `_apply_remote_rerank` (tests/
test_rerank.py), proving the orchestration (document construction,
id mapping, score override, unseen-candidate append, truncation)
chunk-for-chunk."""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vexor_spark.index.build import InMemoryIndex
from vexor_spark.plans.local import local_frame
from vexor_spark.retrieval import dense_scores, resolve_rerank_candidates

# A candidate is (doc_id, url, preview, score) — the engine analog of
# the reference's SearchResult list entering the rerank stage.
Candidate = tuple[int, str, str | None, float]


def build_rerank_document(url: str, preview: str | None) -> str:
    """"{name} {path} {preview}".strip() — search_service.py:158-160;
    the url stands in for the reference's filesystem path."""
    name = url.rstrip("/").rsplit("/", 1)[-1] or url
    return f"{name} {url} {preview or ''}".strip()


def _clamp_candidates(
    index: InMemoryIndex,
    query: str,
    k: int,
    dense_backend: str,
    allowed: DataFrame | None = None,
) -> list[Candidate]:
    """`allowed` (doc_id frame) restricts the candidate pool — the
    reference filters the result list before reranking it, so filters
    compose with the external arms too."""
    n_cand = resolve_rerank_candidates(k)
    cand = dense_scores(
        index.docs,
        query,
        dense_backend,
        hbow_counts=index.hbow_counts() if dense_backend == "hashed_bow" else None,
        hbow_idf=index.hbow_idf() if dense_backend == "hashed_bow" else None,
    )
    if allowed is not None:
        cand = cand.join(allowed, "doc_id", "left_semi")
    rows = (
        cand.join(index.docs.select("doc_id", "url", "preview"), "doc_id")
        .orderBy(F.desc("dense_score"), F.asc("doc_id"))
        .limit(n_cand)
        .collect()
    )
    return [
        (int(r["doc_id"]), r["url"], r["preview"], float(r["dense_score"]))
        for r in rows
    ]


def _to_ranked_df(index: InMemoryIndex, ordered: list[Candidate], k: int) -> DataFrame:
    spark = index.docs.sparkSession
    rows = [(i + 1, d, float(s)) for i, (d, _u, _p, s) in enumerate(ordered[:k])]
    return local_frame(spark, rows, "rank long, doc_id long, score double")


# --- flashrank arm ----------------------------------------------------------


def apply_flashrank_order(
    query: str,
    candidates: Sequence[Candidate],
    reranked: Sequence[dict],
) -> list[Candidate]:
    """Reference reorder semantics (search_service.py:254-277): follow
    the ranker's item order, map `id` back to the candidate, override
    the score when the item carries one, skip missing/unknown ids,
    and append candidates the ranker dropped at the END in original
    (dense) order."""
    id_to_cand = {i: c for i, c in enumerate(candidates)}
    ordered: list[Candidate] = []
    seen: set[int] = set()
    for item in reranked:
        idx = item.get("id")
        if idx is None:
            continue
        cand = id_to_cand.get(idx)
        if cand is None:
            continue
        score = item.get("score")
        if score is not None:
            cand = (cand[0], cand[1], cand[2], float(score))
        ordered.append(cand)
        seen.add(idx)
    if len(ordered) < len(candidates):
        for idx, cand in enumerate(candidates):
            if idx not in seen:
                ordered.append(cand)
    return ordered


def flashrank_rerank_search(
    index: InMemoryIndex,
    query: str,
    k: int = 10,
    *,
    model_name: str | None = None,
    dense_backend: str = "letter",
    allowed: DataFrame | None = None,
    ranker: Callable[[str, list[dict]], list[dict]] | None = None,
) -> DataFrame:
    """(rank, doc_id, score) — the `rerank=flashrank` arm. `ranker`
    injects a deterministic scorer (tests); when absent the real
    `flashrank` package is imported and its Ranker drives the order —
    missing package raises RuntimeError exactly like the reference
    (search_service.py:241-252)."""
    candidates = _clamp_candidates(index, query, k, dense_backend, allowed)
    if not candidates:
        return _to_ranked_df(index, [], k)
    passages = [
        {"id": i, "text": build_rerank_document(u, p) or u}
        for i, (_d, u, p, _s) in enumerate(candidates)
    ]
    if ranker is None:
        try:
            from flashrank import Ranker, RerankRequest  # type: ignore
        except ImportError as exc:  # pragma: no cover - package absent here
            raise RuntimeError(
                "flashrank is not installed; install it or inject a ranker"
            ) from exc
        real = Ranker(**({"model_name": model_name} if model_name else {}))

        def ranker(q: str, ps: list[dict]) -> list[dict]:  # pragma: no cover
            return [dict(item) for item in real.rerank(RerankRequest(query=q, passages=ps))]

    reranked = ranker(query, passages)
    ordered = apply_flashrank_order(query, candidates, reranked)
    return _to_ranked_df(index, ordered, k)


# --- remote arm -------------------------------------------------------------


@dataclass(frozen=True)
class RemoteRerankConfig:
    base_url: str | None = None
    model: str | None = None
    api_key: str | None = None


REMOTE_RERANK_ENV = "VEXOR_REMOTE_RERANK_API_KEY"  # config.py:58


def normalize_remote_rerank_url(value: str | None) -> str | None:
    """Append '/rerank' unless the path already ends with /rerank or
    /reranker — vexor/config.py:450-470 (parity-tested by import)."""
    from urllib.parse import urlparse, urlunparse

    if value is None:
        return None
    cleaned = value.strip()
    if not cleaned:
        return None
    parsed = urlparse(cleaned)
    if not parsed.scheme or not parsed.netloc:
        base = cleaned.rstrip("/")
        if base.endswith("/rerank") or base.endswith("/reranker"):
            return base
        return f"{base}/rerank"
    path = parsed.path or ""
    trimmed = path.rstrip("/")
    if trimmed.endswith("/rerank") or trimmed.endswith("/reranker"):
        new_path = trimmed
    else:
        new_path = f"{trimmed}/rerank" if trimmed else "/rerank"
    return urlunparse(parsed._replace(path=new_path))


def resolve_remote_rerank_api_key(configured: str | None) -> str | None:
    """Config key, else the reference's env var — config.py:490-498."""
    import os

    if configured:
        return configured
    return os.getenv(REMOTE_RERANK_ENV) or None


def resolve_remote_rerank_config(
    config: RemoteRerankConfig | None,
) -> RemoteRerankConfig:
    """search_service.py:281-300: normalize the url, resolve the key,
    raise on anything missing."""
    if not config:
        raise RuntimeError("remote rerank configuration is incomplete")
    base_url = normalize_remote_rerank_url(config.base_url)
    api_key = resolve_remote_rerank_api_key(config.api_key)
    if not (base_url and config.model and api_key):
        raise RuntimeError("remote rerank configuration is incomplete")
    return RemoteRerankConfig(base_url=base_url, api_key=api_key, model=config.model)


def extract_remote_rerank_items(payload: object) -> list[tuple[int, float | None]]:
    """Tolerant response parse (search_service.py:348-376): `results`
    list, else `data` list, else nothing; items need an int-able
    `index`; score from `relevance_score` falling back to `score`,
    un-floatable scores become None (keep the dense score)."""
    if not isinstance(payload, dict):
        return []
    items = payload.get("results")
    if not isinstance(items, list):
        items = payload.get("data")
    if not isinstance(items, list):
        return []
    parsed: list[tuple[int, float | None]] = []
    for item in items:
        if not isinstance(item, dict):
            continue
        index = item.get("index")
        if index is None:
            continue
        try:
            idx = int(index)
        except (TypeError, ValueError):
            continue
        score = item.get("relevance_score")
        if score is None:
            score = item.get("score")
        try:
            parsed_score = float(score) if score is not None else None
        except (TypeError, ValueError):
            parsed_score = None
        parsed.append((idx, parsed_score))
    return parsed


def apply_remote_order(
    candidates: Sequence[Candidate],
    items: Sequence[tuple[int, float | None]],
) -> list[Candidate]:
    """Reference reorder semantics (search_service.py:392-410): empty
    parse → candidates unchanged; otherwise follow item order, skip
    out-of-range / duplicate indices, override score when present,
    append unseen candidates in original order."""
    if not items:
        return list(candidates)
    ordered: list[Candidate] = []
    seen: set[int] = set()
    for idx, score in items:
        if idx < 0 or idx >= len(candidates) or idx in seen:
            continue
        cand = candidates[idx]
        if score is not None:
            cand = (cand[0], cand[1], cand[2], score)
        ordered.append(cand)
        seen.add(idx)
    for idx, cand in enumerate(candidates):
        if idx not in seen:
            ordered.append(cand)
    return ordered


def _default_transport(config: RemoteRerankConfig, payload: dict) -> dict:
    """POST base_url with Bearer auth — the reference's request shape
    (search_service.py:303-345). Gated: only reached when a config is
    supplied outside tests."""
    from urllib import error as urlerror
    from urllib import request as urlrequest

    data = json.dumps(payload).encode("utf-8")
    request = urlrequest.Request(config.base_url, data=data, method="POST")
    request.add_header("Content-Type", "application/json")
    request.add_header("Authorization", f"Bearer {config.api_key}")
    try:
        with urlrequest.urlopen(request) as response:  # pragma: no cover
            body = response.read().decode("utf-8", errors="replace")
    except urlerror.URLError as exc:
        raise RuntimeError(f"remote rerank failed: {exc}") from exc
    try:
        return json.loads(body)  # pragma: no cover
    except json.JSONDecodeError as exc:  # pragma: no cover
        raise RuntimeError("remote rerank failed: Invalid JSON response") from exc


def remote_rerank_search(
    index: InMemoryIndex,
    query: str,
    k: int = 10,
    *,
    config: RemoteRerankConfig | None = None,
    dense_backend: str = "letter",
    allowed: DataFrame | None = None,
    transport: Callable[[RemoteRerankConfig, dict], dict] | None = None,
) -> DataFrame:
    """(rank, doc_id, score) — the `rerank=remote` arm. `transport`
    injects a deterministic endpoint (tests); an incomplete config
    raises RuntimeError like the reference's
    _resolve_remote_rerank_config (search_service.py:283-300)."""
    resolved = resolve_remote_rerank_config(config)
    candidates = _clamp_candidates(index, query, k, dense_backend, allowed)
    if not candidates:
        return _to_ranked_df(index, [], k)
    documents = [
        build_rerank_document(u, p) or u for (_d, u, p, _s) in candidates
    ]
    payload = {"model": resolved.model, "query": query, "documents": documents}
    send = transport or _default_transport
    response = send(resolved, payload)
    items = extract_remote_rerank_items(response)
    ordered = apply_remote_order(candidates, items)
    return _to_ranked_df(index, ordered, k)
