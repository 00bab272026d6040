import workloads


def test_fingerprints_compare_with_float_tolerance_and_null_sums():
    want = {"n": 3, "nn:x": 3, "fsum:x": 1.0, "sum:k": 6, "sum_len:s": None}
    assert workloads.compare_fingerprints(
        {"n": 3, "nn:x": 3, "fsum:x": 1.0 + 1e-12, "sum:k": 6, "sum_len:s": 0}, want) == []
    bad = workloads.compare_fingerprints(
        {"n": 2, "nn:x": 3, "fsum:x": 1.001, "sum:k": 6, "sum_len:s": 0}, want)
    assert [m.split(":")[0] for m in bad] == ["n", "fsum"]


def test_mix_covers_every_family_in_order():
    assert [f for _, f in workloads.MIX] == sorted(
        (f for _, f in workloads.MIX), key=workloads.FAMILIES.index)
    assert {f for _, f in workloads.MIX} == set(workloads.FAMILIES)


def test_store_writes_map_to_their_collection():
    store = "/x/store"
    assert workloads.collection_of("/x/store/payments_k2j3/data", store) == "payments"
    assert workloads.collection_of("/x/store/hotspots.next", store) == "hotspots"
    assert workloads.collection_of("/x/other/accounts", store) is None
    assert workloads.collection_of("/x/store/unknown_1/data", store) is None
