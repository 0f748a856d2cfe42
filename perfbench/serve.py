"""The read side: the reference's page view (one page + the filtered
count + the two dropdown dimensions), its layer census, and the DuckDB
twin check."""

from __future__ import annotations

from spans import Tracer

SEARCH_COLS = ("name", "venue_name", "venue_address", "description")
PER_PAGE = 25


def page_view(events, req: dict, tracer: Tracer, request: str | None = None):
    """One page view: 4 jobs, as the reference's web handler issues them."""
    from nashville_etl_service_backup_spark.operators.serving import (
        count_with_filters,
        distinct_values,
        query_events,
    )

    with tracer.span("view", request):
        with tracer.span("serving.page", request):
            rows = query_events(events, req["source"], req["category"], req["search"],
                                req["page"]).collect()
        with tracer.span("serving.count", request):
            total = count_with_filters(events, req["source"], req["category"]).collect()[0][0]
        with tracer.span("serving.dims", request):
            dims = [[r[0] for r in distinct_values(events, c).collect()]
                    for c in ("source", "category")]
    return rows, total, dims


def staged_view(events, req: dict, tracer: Tracer, request: str) -> None:
    """Layer census of one page view: DataFrame building (no job) timed
    apart from each action."""
    from nashville_etl_service_backup_spark.operators.serving import (
        count_with_filters,
        distinct_values,
        query_events,
    )

    with tracer.span("view", request):
        with tracer.span("serving.build", request):
            page_df = query_events(events, req["source"], req["category"], req["search"],
                                   req["page"])
            count_df = count_with_filters(events, req["source"], req["category"])
            dim_dfs = [distinct_values(events, c) for c in ("source", "category")]
        kind = "serving.page_search" if req["search"] else "serving.page_browse"
        with tracer.span(kind, request) as sp:
            sp["page"] = req["page"]
            sp["rows"] = len(page_df.collect())
        with tracer.span("serving.count", request):
            count_df.collect()
        with tracer.span("serving.dims", request):
            for d in dim_dfs:
                d.collect()


# --------------------------------------------------------------------------
# DuckDB twin of the page view


def _twin_sql(req: dict, sink_glob: str) -> tuple[str, str]:
    where = []
    if req["source"] is not None:
        where.append("source = $src")
    if req["category"] is not None:
        where.append("category = $cat")
    base = f"SELECT * FROM read_parquet('{sink_glob}')"
    count_sql = f"SELECT count(*) FROM ({base}) t" + (
        " WHERE " + " AND ".join(where) if where else "")
    if req["search"]:
        norm = ("trim(regexp_replace(lower(concat_ws(' ', "
                + ", ".join(f"coalesce({c}, '')" for c in SEARCH_COLS)
                + ")), '[^a-z0-9]+', ' ', 'g'))")
        toks = f"list_distinct(CASE WHEN {norm} = '' THEN [] ELSE string_split({norm}, ' ') END)"
        page_sql = (
            f"WITH t AS (SELECT *, {toks} AS tk FROM ({base}) b"
            + (" WHERE " + " AND ".join(where) if where else "") + ") "
            "SELECT url FROM t WHERE len(list_intersect(tk, $q)) = len($q) "
            "ORDER BY round(CAST(len(list_intersect(tk, $q)) AS DOUBLE) / len(tk), 6) DESC, url "
            f"LIMIT {PER_PAGE} OFFSET {(req['page'] - 1) * PER_PAGE}"
        )
    else:
        page_sql = (
            f"SELECT url FROM ({base}) b"
            + (" WHERE " + " AND ".join(where) if where else "")
            + f" ORDER BY event_date ASC NULLS LAST, name, url LIMIT {PER_PAGE} "
            f"OFFSET {(req['page'] - 1) * PER_PAGE}"
        )
    return page_sql, count_sql


def twin_check(events, sink_dir: str, reqs: list[dict]) -> list[str]:
    """Untimed: each sampled page (URLs in order), its count and both
    dimension lists must equal a DuckDB twin over the same sink files.
    Returns the mismatches."""
    import re

    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    glob = f"{sink_dir}/*.parquet"
    bad = []
    for i, req in enumerate(reqs):
        rows, total, dims = page_view(events, req, Tracer(enabled=False))
        page_sql, count_sql = _twin_sql(req, glob)
        q = sorted({t for t in re.split(r"[^a-z0-9]+", (req["search"] or "").lower()) if t})
        params = {"src": req["source"], "cat": req["category"], "q": q}

        def run(sql):
            used = {k: v for k, v in params.items() if f"${k}" in sql}
            return con.execute(sql, used).fetchall()

        want_urls = [r[0] for r in run(page_sql)]
        want_total = run(count_sql)[0][0]
        want_dims = [
            [r[0] for r in con.execute(
                f"SELECT DISTINCT {c} FROM read_parquet('{glob}') WHERE {c} IS NOT NULL ORDER BY 1"
            ).fetchall()]
            for c in ("source", "category")
        ]
        got_urls = [r["url"] for r in rows]
        if got_urls != want_urls or total != want_total or dims != want_dims:
            bad.append(f"request {i} {req}: page {len(got_urls)} vs {len(want_urls)} rows, "
                       f"count {total} vs {want_total}")
    con.close()
    return bad
