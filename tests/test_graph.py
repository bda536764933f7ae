"""Routing graph (Q1-Q4): construction from GTFS tables, local Dijkstra,
and distributed relaxation agreeing with it."""

from __future__ import annotations

import math

import pytest

from tegallega_spark.operators.graph import (
    build_edges,
    build_vertices,
    dijkstra_local,
    nearest_vertex,
    shortest_paths_distributed,
)
from tests.conftest import REF, needs_reference


@pytest.fixture(scope="module")
def toy_graph(spark):
    # line A: s1→s2→s3 (route R1), line B: s2→s4 (route R2); s5 isolated
    stops = spark.createDataFrame(
        [
            ("s1", "Stop 1", 0.00, 0.00),
            ("s2", "Stop 2", 0.00, 0.01),
            ("s3", "Stop 3", 0.00, 0.02),
            ("s4", "Stop 4", 0.01, 0.01),
            ("s5", "Stop 5", 0.50, 0.50),
        ],
        "stop_id string, stop_name string, stop_lat double, stop_lon double",
    )
    stop_times = spark.createDataFrame(
        [
            ("t1", "s1", 1), ("t1", "s2", 2), ("t1", "s3", 3),
            ("t2", "s2", 1), ("t2", "s4", 2),
        ],
        "trip_id string, stop_id string, stop_sequence int",
    )
    trips = spark.createDataFrame(
        [("t1", "R1"), ("t2", "R2")], "trip_id string, route_id string"
    )
    return stops, stop_times, trips


def test_edge_construction(spark, toy_graph):
    stops, stop_times, trips = toy_graph
    edges = build_edges(stop_times, stops, trips)
    got = {(r.src, r.dst, r.route_id): r.weight_km for r in edges.collect()}
    assert set(got) == {("s1", "s2", "R1"), ("s2", "s3", "R1"), ("s2", "s4", "R2")}
    # ~1.11 km per 0.01 degree of longitude at the equator
    assert math.isclose(got[("s1", "s2", "R1")], 1.1119, rel_tol=1e-3)


def test_dijkstra_local_path(spark, toy_graph):
    stops, stop_times, trips = toy_graph
    edges = build_edges(stop_times, stops, trips)
    total, path, routes = dijkstra_local(edges, "s1", "s4")
    assert path == ["s1", "s2", "s4"]
    assert routes == ["R1", "R2"]
    assert total > 0
    # unreachable
    inf, p, r = dijkstra_local(edges, "s1", "s5")
    assert inf == float("inf") and p == [] and r == []


def test_distributed_agrees_with_local(spark, toy_graph):
    stops, stop_times, trips = toy_graph
    edges = build_edges(stop_times, stops, trips)
    dist = {r.id: r.dist for r in shortest_paths_distributed(edges, "s1").collect()}
    for target in ("s2", "s3", "s4"):
        local, _, _ = dijkstra_local(edges, "s1", target)
        assert math.isclose(dist[target], local, rel_tol=1e-9)
    assert "s5" not in dist


def test_nearest_vertex(spark, toy_graph):
    stops, _, _ = toy_graph
    v = build_vertices(stops)
    assert nearest_vertex(v, lon=0.011, lat=0.009) == "s4"


@needs_reference("routes.json", "route-data")
def test_real_gtfs_graph_route(spark):
    """End-to-end: build the routing graph from the generated GTFS tables
    and route between two stops of the same line (index.html use case)."""
    from tegallega_spark.pipeline.gtfs_build import build_gtfs

    t = build_gtfs(spark, REF)
    edges = build_edges(t["stop_times"], t["stops"], t["trips"])
    assert edges.count() > 1000
    # pick two consecutive stops of some edge → path must exist
    e0 = edges.first()
    total, path, routes = dijkstra_local(edges, e0.src, e0.dst)
    assert total <= e0.weight_km + 1e-9
    assert path[0] == e0.src and path[-1] == e0.dst


def test_join_loops_agree_with_single_task_paths(spark, toy_graph, monkeypatch):
    """Every test graph is under SMALL_GRAPH_EDGES, so the tests above run
    the single-task numpy paths.  With the gate at 0 the same graphs go
    through the join loops of shortest_paths_distributed and
    connected_components (under dedup_cluster_assignments), which must
    give the same answers and the same non-convergence error."""
    from tegallega_spark.operators import graph
    from tegallega_spark.operators.cc import (
        connected_components,
        dedup_cluster_assignments,
    )

    stops, stop_times, trips = toy_graph
    edges = build_edges(stop_times, stops, trips)
    cc_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], ["src", "dst"]
    )
    pairs = spark.createDataFrame([(5, 9), (9, 7), (2, 3)], ["id_a", "id_b"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], ["src", "dst"])

    def run():
        return (
            {r.id: r.dist for r in shortest_paths_distributed(edges, "s1").collect()},
            set(map(tuple, connected_components(cc_edges).collect())),
            set(map(tuple, connected_components(chain, max_iter=20).collect())),
            set(map(tuple, dedup_cluster_assignments(pairs).collect())),
        )

    single = run()
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    assert run() == single
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
