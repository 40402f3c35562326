"""Host-speed scaling of pass times, on hand-made probe readings."""

import pytest

from perfbench import harness


def test_pass_time_is_scaled_by_the_probe_speed_during_the_pass():
    res = harness.OpResult()
    res.starts, res.seconds, res.ok = [0.0, 10.0, 20.0], [2.0, 2.0, 2.0], \
        [True] * 3
    nominal = harness.PROBE_NOMINAL_S
    sampler = harness.Sampler()
    sampler.probe = [
        (0.5, nominal), (1.5, nominal),            # nominal host
        (10.5, nominal * 2), (11.0, nominal * 2),  # host at half speed
        # nothing during the third pass: the run's median speed is used
        (30.0, nominal * 2),
    ]
    assert sampler.at_nominal_speed(res) == pytest.approx([2.0, 1.0, 1.0])
    assert sampler.host_speed() == pytest.approx(0.5)


def test_sampler_records_rss_and_probe_readings():
    with harness.Sampler() as sampler:
        harness.timed_loop(lambda i: sum(range(200_000)), 0.2)
    assert sampler.peak > 0 and sampler.probe
    assert all(cpu_s > 0 for _t, cpu_s in sampler.probe)
