from mapnik_vector_tile_spark.session import driver_memory

GIB = 2**30


def test_driver_memory_is_a_fifth_of_ram_within_1_to_4_gib():
    assert driver_memory(2 * GIB) == "1g"
    assert driver_memory(10 * GIB) == "2g"
    assert driver_memory(16 * GIB) == "3g"
    assert driver_memory(20 * GIB) == "4g"
    assert driver_memory(512 * GIB) == "4g"
    assert driver_memory() in {"1g", "2g", "3g", "4g"}
