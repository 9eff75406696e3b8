"""The workloads by name. Each prepares its inputs and plan from the seed
and the number of timed rounds (`prepare`), and checks what the engine
returned (`evaluate`). `round_s` is about one round's time; a run times
round(--seconds / round_s) rounds, at least one."""

from . import dml, text


WORKLOADS = {w.name: w for w in [dml.DmlK16(), text.TextPipeline()]}
