"""Word count job file in the reference's format: ``map_fn`` emits
(word, 1) per normalised token, ``combine_fn`` sums per map task,
``reduce_fn`` sums per word."""


def map_fn(key, value):
    for word in value.strip().lower().split():
        word = word.strip(".,!?;:\"'-")
        if word:
            yield (word, 1)


def combine_fn(key, values):
    return sum(values)


def reduce_fn(key, values):
    return sum(values)
