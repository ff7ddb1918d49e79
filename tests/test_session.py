from mapnik_vector_tile_spark.session import driver_memory, unix_socket_conf

GIB = 2**30


def test_driver_memory_is_a_fifth_of_ram_within_1_to_4_gib():
    assert driver_memory(2 * GIB) == "1g"
    assert driver_memory(10 * GIB) == "2g"
    assert driver_memory(16 * GIB) == "3g"
    assert driver_memory(20 * GIB) == "4g"
    assert driver_memory(512 * GIB) == "4g"
    assert driver_memory() in {"1g", "2g", "3g", "4g"}


def test_unix_socket_conf_only_where_the_socket_path_fits():
    """Spark's socket path is ``<dir>/.<uuid4>.sock``; AF_UNIX holds
    107 bytes of it. A directory that leaves room turns Unix domain
    sockets on there; a longer one keeps Spark's TCP default."""
    short = "/tmp"
    assert unix_socket_conf(short) == {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": short,
    }
    fits = "/" + "d" * 63  # 64 + len("/.<36 chars>.sock") == 107
    assert unix_socket_conf(fits)["spark.python.unix.domain.socket.dir"] == fits
    assert unix_socket_conf(fits + "d") == {}
    assert unix_socket_conf("/" + "d" * 200) == {}


def test_session_applies_the_socket_choice(spark):
    import tempfile

    conf = spark.sparkContext.getConf()
    for key, value in unix_socket_conf(tempfile.gettempdir()).items():
        assert conf.get(key) == value
