"""EngineConfig TOML/dict ingestion (SURVEY.md §3.1 #1: the reference's
entry point consumes a TOML config)."""

import pytest

from drought_t_spark.config import DEFAULT, EngineConfig


def test_from_toml_top_level(tmp_path):
    p = tmp_path / "cfg.toml"
    p.write_text('ma_window = 15\nthreshold_pct = 0.2\npooling = "none"\n')
    cfg = EngineConfig.from_toml(str(p))
    assert (cfg.ma_window, cfg.threshold_pct, cfg.pooling) == (15, 0.2, "none")
    assert cfg.pool_tc == DEFAULT.pool_tc  # untouched knobs keep defaults


def test_from_toml_drought_table(tmp_path):
    p = tmp_path / "cfg.toml"
    p.write_text('[drought]\nmin_duration = 5\ngap_fill_mode = "locf"\n')
    cfg = EngineConfig.from_toml(str(p))
    assert (cfg.min_duration, cfg.gap_fill_mode) == (5, "locf")


def test_unknown_key_is_an_error(tmp_path):
    p = tmp_path / "cfg.toml"
    p.write_text("ma_windoe = 15\n")  # typo must not silently default
    with pytest.raises(ValueError, match="ma_windoe"):
        EngineConfig.from_toml(str(p))


def test_duplicate_key_across_levels_is_an_error(tmp_path):
    p = tmp_path / "cfg.toml"
    p.write_text("ma_window = 15\n[drought]\nma_window = 29\n")
    with pytest.raises(ValueError, match="ma_window"):
        EngineConfig.from_toml(str(p))


def test_from_dict_strict():
    cfg = EngineConfig.from_dict({"pool_tc": 7})
    assert cfg.pool_tc == 7
    with pytest.raises(ValueError, match="nope"):
        EngineConfig.from_dict({"nope": 1})
    # removed knobs: a stale config that still sets them fails loudly
    for stale in ({"salt_buckets": 16}, {"shuffle_partitions": 8},
                  {"threshold_ma_window": 1}, {"max_bucket_tokens": 4_000_000},
                  {"payload_codec": "TSZ1"}, {"payload_zlib": True}):
        with pytest.raises(ValueError, match=next(iter(stale))):
            EngineConfig.from_dict(stale)


def test_unimplemented_mode_is_an_error():
    # "ma" pooling was accepted but never implemented (unpooled events);
    # a typo'd mode must not fall back to another one either
    for bad in ({"pooling": "ma"}, {"threshold_mode": "varaible"},
                {"gap_fill_mode": "linear"}):
        with pytest.raises(ValueError, match=next(iter(bad))):
            EngineConfig.from_dict(bad)
        with pytest.raises(ValueError, match=next(iter(bad))):
            EngineConfig(**bad)


@pytest.mark.parametrize("bad", [
    {"ma_window": 4},       # the kernel's frame would be 5 wide
    {"ma_window": 0},
    {"ma_window": -3},      # an all-NaN MA: no events, silently
    {"ma_window": 3.0},
    {"threshold_pct": 1.5},  # would interpolate into another source's values
    {"threshold_pct": -0.1},
    {"threshold_pct": float("nan")},
], ids=str)
def test_window_and_level_the_kernel_gets_wrong_are_errors(bad):
    with pytest.raises(ValueError, match=next(iter(bad))):
        EngineConfig.from_dict(bad)


def test_window_and_level_bounds_are_accepted():
    for ok in ({"ma_window": 1}, {"threshold_pct": 0}, {"threshold_pct": 1.0}):
        EngineConfig.from_dict(ok)
