package com.example.operator

class AnimalList(private val animals: List<String>) {
    companion object {
        fun of(vararg names: String): AnimalList = AnimalList(names.toList())
    }

    operator fun plus(other: AnimalList): AnimalList = AnimalList(animals + other.animals)

    fun display() {
        animals.forEach { println(it) }
    }
}
